package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.FingerprintDedup

/** The shared passage-dedup derivation (q59/q60/q63/q67 + CorpusBuild):
  * the distributed capped-pair join checked against an in-memory
  * brute-force reference over the same skim — the join logic (block cap,
  * blocking by fingerprint, ≥2-shared threshold, src<dst orientation)
  * verified independently of any oracle SQL. */
class FingerprintDedupSpec extends AnyFunSuite with SparkSessionTestWrapper {

  // synthetic corpus with planted duplicated passages INSIDE the 512-char
  // skim window: docs 3k/3k+1 open with the same long cluster passage; a
  // boilerplate sentence opens EVERY doc (its fingerprints must be
  // cap-dropped, never joined); docs 3k+2 are singletons
  private def corpus(n: Int): Seq[(Long, String)] = {
    val boiler =
      "subscribe to our newsletter for updates and offers today! " * 3
    def span(seed: Int): String = {
      // cluster-seeded pseudo-random words: pair members share the EXACT
      // span, different clusters share nothing (a repeating-skeleton
      // fixture failed here — its grams were corpus-wide and cap-dropped)
      val rnd = new scala.util.Random(seed)
      Seq.fill(60)("w" + rnd.alphanumeric.take(6).mkString).mkString(" ")
    }
    (0 until n).map { i =>
      val planted =
        if (i % 3 != 2) span(1000 + i / 3) // shared by docs 3k and 3k+1
        else span(500000 + i) // singleton
      val unique = s" document number $i carries its own trailing content " +
        (1 to 8).map(k => s"tok${i}x$k").mkString(" ")
      (i.toLong, boiler + planted + unique)
    }
  }

  test("cappedPairs matches a brute-force reference over the same skim") {
    import spark.implicits._
    val docs = spark.createDataset(corpus(90)).toDF("doc_id", "text")
      .repartition(5)
    val fps = FingerprintDedup.skim(docs).localCheckpoint()
    val got = FingerprintDedup.cappedPairs(fps)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(x => (x._1, x._2))

    // in-memory reference from the SAME skim rows
    val rows = fps.collect().map(r => (r.getLong(0), r.getLong(1)))
    val byH = rows.groupBy(_._2).view.mapValues(_.map(_._1).sorted).toMap
    val eligible = byH.filter { case (_, ds) => ds.length >= 2 && ds.length <= 50 }
    val pairCounts = scala.collection.mutable.Map[(Long, Long), Long]()
    eligible.values.foreach { ds =>
      for (a <- ds; b <- ds if a < b)
        pairCounts((a, b)) = pairCounts.getOrElse((a, b), 0L) + 1L
    }
    val want = pairCounts.filter(_._2 >= 2)
      .map { case ((a, b), c) => (a, b, c) }.toArray.sortBy(x => (x._1, x._2))

    assert(got.toSeq == want.toSeq)
    // the corpus actually exercises both mechanisms: planted dup pairs
    // exist, and the boilerplate fingerprints were cap-dropped
    assert(got.nonEmpty, "no planted pairs survived — fixture is inert")
    assert(byH.exists(_._2.length > 50),
      "no fingerprint exceeded the cap — the stop-fingerprint rule is untested")
    // orientation + no self-pairs
    assert(got.forall { case (a, b, _) => a < b })
  }

  test("a fingerprint held by exactly 50 docs pairs them; one held by 51 pairs none") {
    import spark.implicits._
    // two fingerprints per block, so every pair clears the ≥2-shared bar
    // and only the 50-document cap decides
    def block(h: Long, docs: Range) = for (fp <- Seq(h, h + 1); d <- docs) yield (d.toLong, fp)
    val fps = spark.createDataset(block(10L, 0 until 50) ++ block(20L, 100 until 151))
      .toDF("doc_id", "h")
    val got = FingerprintDedup.cappedPairs(fps)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = (for (a <- 0L until 50L; b <- a + 1 until 50L) yield (a, b, 2L)).toSet
    assert(got == want, s"${got.size} pairs, expected the ${want.size} of the 50-doc block")
  }

  test("skim is deterministic and partitioning-invariant") {
    import spark.implicits._
    val docs = spark.createDataset(corpus(40)).toDF("doc_id", "text")
    def skimOf(parts: Int) =
      FingerprintDedup.skim(docs.repartition(parts))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(skimOf(7) == skimOf(2))
  }
}
