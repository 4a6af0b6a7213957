package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Winnowed-fingerprint passage dedup primitives — ONE code path shared by
  * the catalog queries (q59/q60/q63/q67 via Queries.winnowedFps /
  * cappedDupPairs) and the end-to-end [[graft.pipeline.CorpusBuild]], so
  * the pair economics PlanGuardSpec pins on q59 hold everywhere the
  * derivation runs.
  *
  * Shapes (the exact-substring dedup family, Lee et al. 2022):
  *  - skim: one codegen'd pass per document through the native
  *    `graft_rolling_fp` expression emitting only the 1/64 winnowed
  *    8-gram fingerprints — never the 64× gram explode (the measured
  *    pushdown pessimization, see the expression's Scaladoc).
  *  - cappedPairs: the shared-key pair operator `Blocking.sharedKeyPairs`
  *    keyed BY FINGERPRINT at a 50-document cap (the stop-fingerprint
  *    rule — a boilerplate fingerprint pairs nothing; ≤C(50,2) pairs per
  *    block, never doc×doc, no join), pairs kept at ≥2 shared
  *    fingerprints.
  */
object FingerprintDedup {

  /** Winnowed (doc_id, h) fingerprint skim of a (doc_id, text, …) frame.
    * At 100 TB this is the "fingerprint index" a dedup pipeline persists
    * once and reuses across audits — CorpusBuild snapshots it;
    * the catalog memoizes a localCheckpoint per session. */
  def skim(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(expr("graft_rolling_fp(substring(text, 1, 512))")).as("h"))
      .select("doc_id", "h").distinct()

  /** Capped duplicated-passage pair set over a fingerprint skim:
    * (src, dst, sfp) with src < dst and sfp ≥ 2 shared fingerprints, from
    * `Blocking.sharedKeyPairs` over the skim's (h, doc_id) rows at the
    * 50-document stop-fingerprint cap. */
  def cappedPairs(fps: DataFrame): DataFrame = {
    val spark = fps.sparkSession
    import spark.implicits._
    val entries = fps.select(col("h").as("key"), col("doc_id").as("id")).as[Blocking.BlockEntry]
    Blocking.sharedKeyPairs(spark, entries, maxBlock = 50)
      .where(col("shared") >= 2)
      .withColumnRenamed("shared", "sfp")
  }
}
