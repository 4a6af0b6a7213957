package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{ConnectedComponents, FingerprintDedup}
import graft.sources.SnapshotStore
import graft.util.{Held, Materialize}

/** The END-TO-END training-corpus build (VERDICT r05 #6) — the catalog's
  * independent stages composed into the pipeline a real training-data run
  * executes, each stage committed as a resumable SnapshotStore snapshot
  * with per-partition lineage rows and counters (the same kill-after-stage
  * discipline as [[EntityResolution]]):
  *
  *   documents → [gated]        C4-style quality gate (q66's battery)
  *             → [fingerprints] winnowed skim of the survivors — the
  *                              persisted fingerprint index
  *             → [canonical]    near-dup clusters via capped pairs + CC,
  *                              longest-text-wins keep rule (q63)
  *             → [survivors]    minus the eval slice (doc_id%97==0 plays
  *                              the benchmark) and every training doc
  *                              sharing a fingerprint with it (q60)
  *             → [packed]       sharded 2048-token sequence packing (q62)
  *             → [mixture]      per-source sampling weights (q64)
  *
  * Stage economics are the catalog queries' pinned shapes, via the SAME
  * code paths where they exist (FingerprintDedup skim/cappedPairs,
  * ConnectedComponents): map-side gate, one fingerprint index reused by
  * dedup AND decontamination, capped-block pair join (never doc×doc),
  * CC over edges only, broadcast eval set, sharded packing window, tiny
  * per-source aggregate. Nothing corpus-sized ever reaches the driver.
  */
object CorpusBuild {

  /** Whitespace token count — q62/q64's formula. */
  private def nTokens = size(split(trim(col("text")), "\\s+")).cast("long")

  /** q66's reason bitmap, inlined over a frame with a `text` column:
    * 1 = code braces, 2 = "javascript" boilerplate, 4 = ellipsis spam,
    * 8 = digit-heavy. Exact integer char-class algebra; the q69 oracle
    * re-derives the identical battery in SQL. */
  private def withReasons(docs: DataFrame): DataFrame =
    // r07: one codegen'd byte pass (graft_charclass_counts) instead of the
    // four per-counter regexp_replace rewrites — four full transient copies
    // of every document at 100 TB just to count characters (VERDICT r06
    // #5/#6; value equivalence asserted in GraftExpressionsSpec)
    docs
      .withColumn("cc", expr("graft_charclass_counts(text)"))
      .withColumn("reasons",
        col("cc.has_brace") +
          col("cc.has_js") * 2L +
          when(col("cc.ellipsis_ct") > 2, 4L).otherwise(0L) +
          when(col("cc.digit_ct") * 2 > col("cc.alpha_ct"), 8L).otherwise(0L))

  /** Run every stage against a (doc_id, source, text) corpus. Returns the
    * packed table (doc_id, shard, n_tokens, start_tok, pack_id,
    * straddles); the mixture table and all intermediate snapshots stay
    * readable from the store. Rerunning with the same store replays
    * committed stages and recomputes only uncommitted ones. */
  def run(spark: SparkSession, store: SnapshotStore, docs: DataFrame): DataFrame = {
    import spark.implicits._

    // [gated]: map-side keep/drop; text is NOT carried forward — snapshots
    // hold ids + metadata (the 100-TB discipline), later stages that need
    // text semi-join the corpus by id
    val gated = store.getOrCreate("gated") {
      withReasons(docs.select(col("doc_id"), col("source"), col("text")))
        .where(col("reasons") === 0)
        .select(col("doc_id"), col("source"),
          length(col("text")).cast("long").as("text_len"),
          nTokens.as("n_tokens"))
    }

    // [fingerprints]: the winnowed skim of the GATED corpus — persisted
    // once, consumed by both the dedup pair join and decontamination
    val fps = store.getOrCreate("fingerprints") {
      FingerprintDedup.skim(
        docs.join(gated.select("doc_id"), Seq("doc_id"), "left_semi"))
    }

    // [canonical]: capped pairs → CC → longest-text-wins (q63's rule);
    // pair-agg output is unique (src,dst), so CC skips its pre-distinct.
    // assignManaged: the snapshot commit below is the single
    // materialization of the assignment; what backs it (the CC broadcast
    // or last round) is released once the commit returns
    val canonical = Materialize.holding { hold =>
      store.getOrCreate("canonical") {
        val edges = FingerprintDedup.cappedPairs(fps)
          .select(col("src"), col("dst")).as[graft.model.Edge]
        val (assigned, release) = ConnectedComponents.assignManaged(
          spark, edges, gated.select(col("doc_id").as("id")), dedupEdges = false)
        val comp = hold(new Held(assigned, release))
          .select(col("id").as("doc_id"), col("comp").as("cluster"))
        val wk = Window.partitionBy("cluster")
          .orderBy(col("text_len").desc, col("doc_id"))
        gated.select("doc_id", "text_len").join(comp, "doc_id")
          .withColumn("rk", row_number().over(wk))
          .select(col("doc_id"), col("cluster"),
            when(col("rk") === 1, 1L).otherwise(0L).as("keep"))
      }
    }

    // [survivors]: canonical keeps, minus the eval slice itself and every
    // training doc colliding with it (broadcast eval set — q60's shape)
    val survivors = store.getOrCreate("survivors") {
      val evalGrams = fps.where(col("doc_id") % 97 === 0).select("h").distinct()
      val contaminated = fps.where(col("doc_id") % 97 =!= 0)
        .join(broadcast(evalGrams), "h")
        .select("doc_id").distinct()
      gated
        .join(canonical.where(col("keep") === 1).select("doc_id"),
          Seq("doc_id"), "left_semi")
        .where(col("doc_id") % 97 =!= 0)
        .join(contaminated, Seq("doc_id"), "left_anti")
        .select("doc_id", "source", "n_tokens")
    }

    // [packed]: sharded running-sum packing (q62's window — never global)
    val packed = store.getOrCreate("packed") {
      val w = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      survivors
        .withColumn("shard", col("doc_id") % 32)
        .withColumn("start_tok", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .select(col("doc_id"), col("shard"), col("n_tokens"), col("start_tok"),
          expr("start_tok div 2048").as("pack_id"),
          expr("CAST(CASE WHEN (start_tok + n_tokens - 1) div 2048 <> start_tok div 2048 " +
            "THEN 1 ELSE 0 END AS BIGINT)").as("straddles"))
    }

    // [mixture]: per-source weights over the FINAL corpus (q64's shape —
    // corpus totals are two longs to the driver, over the tiny aggregate)
    store.getOrCreate("mixture") {
      val per = survivors.groupBy("source")
        .agg(count(lit(1)).as("docs"), sum(col("n_tokens")).as("tokens"))
      val tot = per.agg(sum("tokens").as("tt"), count(lit(1)).as("ns")).head()
      // a fully-rejected corpus yields a null sum / zero source count —
      // commit a cap=0 mixture instead of NPE-ing the last stage after
      // five stages already committed (ADVICE r06)
      val cap =
        if (tot.isNullAt(0) || tot.getLong(1) == 0L) 0L
        else tot.getLong(0) / tot.getLong(1)
      per.select(col("source"), col("docs"), col("tokens"),
        lit(cap).as("cap_tokens"),
        least(col("tokens"), lit(cap)).as("sampled_tokens"))
    }

    packed
  }
}
