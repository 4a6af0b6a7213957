package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Similarity
import graft.operators.{Blocking, PairScoring}
import graft.operators.Blocking.{CandidatePair, DocFeatures}

/** Guards the scoring join's column wiring: scores coming out of the
  * distributed path must equal directly computed scalar scores for the
  * same feature rows (a column-order regression would silently swap
  * src/dst payloads). */
class PairScoringSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private def feat(id: Long, title: String, tokens: Seq[Long], w: Seq[Float]): DocFeatures =
    DocFeatures(id, s"u$id", title, tokens.toArray, w.toArray,
      Similarity.minHashSignature(tokens.toArray, 20))

  test("distributed scores equal direct scalar computation") {
    import spark.implicits._
    val a = feat(1L, "alpha beta", Seq(10L, 20L, 30L), Seq(1.0f, 2.0f, 3.0f))
    val b = feat(2L, "alpha bets", Seq(20L, 30L, 40L), Seq(2.0f, 3.0f, 4.0f))
    val c = feat(3L, "gamma", Seq(99L), Seq(5.0f))
    val feats = spark.createDataset(Seq(a, b, c))
    val pairs = spark.createDataset(Seq(CandidatePair(1L, 2L), CandidatePair(1L, 3L)))
    val scored = PairScoring.score(spark, pairs, feats).collect()
      .map(s => (s.src, s.dst) -> s).toMap

    val s12 = scored((1L, 2L))
    assert(s12.jaroWinkler == Similarity.jaroWinkler("alpha beta", "alpha bets"))
    assert(s12.levenshteinRatio == Similarity.levenshteinRatio("alpha beta", "alpha bets"))
    assert(s12.cosine == Similarity.sparseCosine(
      a.tokenHashes, a.tfWeights, b.tokenHashes, b.tfWeights))
    assert(s12.jaccard == Similarity.sortedJaccard(a.tokenHashes, b.tokenHashes))

    val s13 = scored((1L, 3L))
    assert(s13.cosine == 0.0 && s13.jaccard == 0.0)
    assert(!s13.isDuplicate)
  }

  test("decision rule: content must agree, shared titles alone never fire") {
    // planted negatives share titles (jw=1.0) over different bodies
    assert(!PairScoring.decide(jw = 1.0, lev = 1.0, cosine = 0.2, jaccard = 0.1))
    assert(PairScoring.decide(jw = 0.2, lev = 0.2, cosine = 0.95, jaccard = 0.9))
    assert(PairScoring.decide(jw = 1.0, lev = 1.0, cosine = 0.7, jaccard = 0.4))
  }
}
