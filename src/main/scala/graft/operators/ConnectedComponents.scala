package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Edge

/** Iterative transitive closure via alternating large-star / small-star
  * (Kiveris et al., "Connected Components in MapReduce and Beyond", 2014) —
  * the north rule's clustering stage. The reference's clustering is
  * exact-key dedup into a UNIQUE(text) table
  * (/root/reference/db/create_tables.sql:41, src/db.py:38-47); this is its
  * scale-out generalization for near-duplicate edges (SURVEY §2.7 X2).
  *
  * Implementation: partitioner-preserving RDD rounds — the one place the
  * engine drops below the DataFrame API, deliberately (SURVEY §7: iterative
  * graph algorithms are the classic RDD case; GraphX itself is RDD-based):
  *  - each round is ONE job of three stages (symmetrize-shuffle, orient-
  *    shuffle, dedup-shuffle); the `reduceByKey` min and the `join` against
  *    it reuse the round's HashPartitioner, so they add NO extra shuffle.
  *    The equivalent DataFrame loop planned ~5 AQE stage-jobs per round —
  *    pure driver/scheduling latency that does not shrink with executors
  *    (it was the measured serial floor of the whole ER pass).
  *  - convergence = (count, xor-of-edge-hashes) fingerprint computed by the
  *    SAME action that materializes the round's localCheckpoint; superseded
  *    checkpoints are unpersisted as soon as the next round materializes.
  *  - component ids are the component's minimum node id — deterministic
  *    regardless of parallelism or partition count.
  * Skew note: a star root's degree equals its component size; rounds hash-
  * partition by node id, so one giant component concentrates on one task
  * only at the root — the same bound as the published algorithm.
  */
object ConnectedComponents {

  /** One large-star round over symmetric neighborhoods: connect every
    * LARGER neighbor v of u to m = min(neighborhood(u) ∪ {u}). Duplicate
    * output edges are fine — downstream is min-aggregation + dedup. */
  private def largeStar(e: RDD[(Long, Long)], hp: HashPartitioner): RDD[(Long, Long)] = {
    val sym = e.flatMap { case (s, d) => Iterator((s, d), (d, s)) }
      .partitionBy(hp)
    val mins = sym.reduceByKey(hp, (a: Long, b: Long) => math.min(a, b)) // no shuffle: same partitioner
    // co-partitioned hash-map lookup (shared IterativeLoop idiom) instead
    // of an RDD cogroup join; the output is keyed by the NEIGHBOR v, so
    // it must not (and does not) claim hp
    IterativeLoop.lookupJoin(sym, mins, hp) { case ((u, v), rk) =>
      val m = math.min(u, rk.getOrDefault(u, u))
      if (v > u) Iterator((v, m)) else Iterator.empty
    }
  }

  /** One small-star round: orient toward the smaller endpoint, connect each
    * smaller-or-equal neighbor (and the center) to the neighborhood min. */
  private def smallStar(e: RDD[(Long, Long)], hp: HashPartitioner): RDD[(Long, Long)] = {
    val oriented = e.map { case (s, d) =>
      if (s >= d) (s, d) else (d, s)
    }.partitionBy(hp)
    val mins = oriented.reduceByKey(hp, (a: Long, b: Long) => math.min(a, b)) // no shuffle
    IterativeLoop.lookupJoin(oriented, mins, hp) { case ((u, v), rk) =>
      val m = rk.getOrDefault(u, u)
      if (v != m) Iterator((v, m), (u, m)) else Iterator((u, m))
    }.distinct(hp.numPartitions)
  }

  /** Deterministic edge-set fingerprint (count, xor of mixed hashes) for
    * convergence detection — order-independent, computed in the same action
    * that materializes the round's checkpoint. */
  private def fingerprint(e: RDD[(Long, Long)]): (Long, Long) =
    e.aggregate((0L, 0L))(
      (acc, p) => (acc._1 + 1L,
        acc._2 ^ graft.functions.Hashing.hash64(p._1, p._2)),
      (a, b) => (a._1 + b._1, a._2 ^ b._2))

  /** Component assignment for every vertex incident to `edges` plus every
    * vertex in `allVertices` (singletons map to themselves). Returns
    * DataFrame(id, comp) where comp = min id of the component. */
  /** @param dedupEdges when true (default), the input edge set is
    *   shuffled through a `distinct` before iterating — required for
    *   arbitrary callers. The ER pipeline passes false: its edges are the
    *   positive scored pairs, which are unique (src,dst) by construction
    *   (candidate pairs are dropDuplicates'd and scoring is 1:1), so the
    *   distinct would be a pure extra shuffle + stage barrier. Duplicate
    *   edges would not break correctness either way (largeStar's
    *   reduceByKey and smallStar's distinct absorb them) — the flag only
    *   controls whether the first round's input volume is pre-shrunk. */
  def assign(
      spark: SparkSession,
      edges: Dataset[Edge],
      allVertices: DataFrame, // single column "id"
      maxIterations: Int = 30,
      dedupEdges: Boolean = true): DataFrame = {
    // Converged assignments are materialized (eager localCheckpoint) and
    // every ROUND checkpoint released (BLOCKING) before returning: the
    // caller gets a DataFrame whose only dependency is its own
    // materialized blocks — the lineage hanging off O(log n) iterative
    // rounds is cut, exactly as an output table would. r07: the
    // materialization moved from a session-scratch parquet write+read
    // roundtrip to localCheckpoint (same truncation, no disk roundtrip —
    // measured on q29/q40/q63's catalog paths); callers that consume the
    // assignment exactly once can skip it via [[assignManaged]].
    val (df, release) = assignManaged(spark, edges, allVertices, maxIterations, dedupEdges)
    if (release eq NoRelease) return df // singleton fast path: no checkpoint to decouple
    val out = df.localCheckpoint() // eager: materializes before the release
    release()
    out
  }

  private val NoRelease: () => Unit = () => ()

  /** Like [[assign]] but the returned frame stays backed by the final
    * round's locally-checkpointed RDD; the second element releases it
    * (BLOCKING, idempotent). For callers that materialize the assignment
    * exactly once — a pipeline that counts it, or commits it straight to
    * its own snapshot store — and then release in a `finally`: skips
    * [[assign]]'s second materialization, the eager `localCheckpoint` that
    * decouples its result from the round blocks. */
  def assignManaged(
      spark: SparkSession,
      edges: Dataset[Edge],
      allVertices: DataFrame, // single column "id"
      maxIterations: Int = 30,
      dedupEdges: Boolean = true): (DataFrame, () => Unit) = {
    import spark.implicits._
    // Unpersisting a superseded localCheckpointed round logs Spark's
    // "cannot be recomputed after unpersisting" WARN. Here that is the
    // intended lifecycle — a superseded round is never recomputed (the
    // next round's checkpoint is already materialized by the same action
    // that read it) — so the per-round warning is pure noise; raise the
    // RDD loggers to ERROR for the classes that emit it.
    Seq("org.apache.spark.rdd.MapPartitionsRDD",
      "org.apache.spark.rdd.ShuffledRDD").foreach(cls =>
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        cls, org.apache.logging.log4j.Level.ERROR))
    val partitions = spark.sessionState.conf.numShufflePartitions
    val raw = edges.toDF()
      .select(col("src"), col("dst")).as[(Long, Long)].rdd
      .filter { case (s, d) => s != d }
    var e: RDD[(Long, Long)] = if (dedupEdges) raw.distinct(partitions) else raw
    e.localCheckpoint()
    // The initial fingerprint materializes the checkpoint AND yields the
    // edge count for free; the round partitioner is then sized to the edge
    // volume (~8k edges per round task) instead of inheriting the session
    // shuffle width — a session tuned for a 100-TB scan would otherwise run
    // every O(log n) round as a sea of empty tasks whose scheduling latency
    // is pure serial floor (measured: the 307-doc catalog pipeline spent
    // most of its wall time scheduling 96-partition CC rounds). Capped
    // below by 1 and above by the session width, so at-scale behavior
    // (edges ≫ session width × 8k) is unchanged.
    val fp0 = fingerprint(e)
    val hp = IterativeLoop.roundPartitioner(fp0._1, partitions, rowsPerTask = 8192L)
    var prev = fp0
    var iter = 0
    var converged = false
    while (!converged && iter < maxIterations) {
      val superseded = e
      e = smallStar(largeStar(e, hp), hp)
      e.localCheckpoint()
      val fp = fingerprint(e) // materializes this round's checkpoint...
      superseded.unpersist(blocking = true) // ...freeing the last round's
      converged = fp == prev
      prev = fp
      iter += 1
    }
    // Converged edge set is a forest of stars (child -> root); the
    // assignment frame hangs off the final round's checkpoint, released
    // by the returned thunk (repeated pipeline passes must end with zero
    // surviving storage blocks — asserted in EntityResolutionSpec).
    if (prev._1 == 0L) { // no edges at all: everyone is a singleton
      e.unpersist(blocking = true)
      return (allVertices.select(col("id"), col("id").as("comp")), NoRelease)
    }
    val assignments = e
      .flatMap { case (s, d) => Iterator((s, d), (d, d)) }
      .reduceByKey(hp, (a: Long, b: Long) => math.min(a, b))
      .toDF("id", "comp")
    val result = allVertices.select(col("id"))
      .join(assignments, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    val finalRound = e
    val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    (result, () => {
      if (released.compareAndSet(false, true)) finalRound.unpersist(blocking = true)
      ()
    })
  }
}
