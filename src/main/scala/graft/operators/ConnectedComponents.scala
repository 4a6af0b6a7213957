package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Edge
import graft.util.{Held, Materialize}

/** Connected components, component id = the component's minimum node id,
  * on one of two paths chosen by the edge count —
  * the north rule's clustering stage. The reference's clustering is
  * exact-key dedup into a UNIQUE(text) table
  * (/root/reference/db/create_tables.sql:41, src/db.py:38-47); this is its
  * scale-out generalization for near-duplicate edges (SURVEY §2.7 X2).
  *
  * [[assignManaged]] is the one entry. Both paths start with the same job:
  * the edges are checkpointed (`graft.util.Materialize`, which also holds
  * every round below) and fingerprinted (count, xor of edge hashes), which
  * materializes them once and yields their count. The edge plan is never
  * computed again.
  *  - **Driver path** (count ≤ [[DriverEdgeBound]], 2^20 edges): one more
  *    job collects the materialized edges as primitive `Long` arrays, the
  *    edge checkpoint is released at once, and union-find runs on the
  *    driver over sorted distinct endpoints. The result is a map-only
  *    projection of `allVertices` through a broadcast of the sorted
  *    (id, comp) arrays; vertices outside the edge set map to themselves.
  *    Driver memory at the bound: 16 MB of collected edges, 16 MB of
  *    sorted endpoints, 16 MB of distinct ids, 8 MB of parent ints, 16 MB
  *    of component ids, and up to 32 MB more while the broadcast is
  *    serialized — about 110 MB. At catalog and er_web sizes this
  *    replaces the O(log n) round jobs and the assignment shuffle with one
  *    small collect.
  *  - **Rounds** (above the bound): iterative large-star / small-star
  *    (Kiveris et al., "Connected Components in MapReduce and Beyond",
  *    2014) as partitioner-preserving RDD rounds — the one place the
  *    engine drops below the DataFrame API, deliberately (SURVEY §7:
  *    iterative graph algorithms are the classic RDD case; GraphX itself is
  *    RDD-based):
  *    - each round is ONE job of three stages (symmetrize-shuffle, orient-
  *      shuffle, dedup-shuffle); the `reduceByKey` min and the `join`
  *      against it reuse the round's HashPartitioner, so they add NO extra
  *      shuffle. The equivalent DataFrame loop planned ~5 AQE stage-jobs
  *      per round — pure driver/scheduling latency that does not shrink
  *      with executors.
  *    - convergence = the same fingerprint, computed by the action that
  *      materializes the round's checkpoint; a superseded round is
  *      released as soon as the next round materializes.
  *    Skew note: a star root's degree equals its component size; rounds
  *    hash-partition by node id, so one giant component concentrates on one
  *    task only at the root — the same bound as the published algorithm.
  * Both paths give the same assignment (ConnectedComponentsSpec runs every
  * oracle case through each), deterministic regardless of parallelism or
  * partition count.
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

  /** Edge count at or under which [[assignManaged]] runs union-find on the
    * driver instead of the distributed rounds (memory at the bound: see
    * the object doc). */
  private val DriverEdgeBound: Long = 1L << 20

  /** Component assignment for every vertex incident to `edges` plus every
    * vertex in `allVertices` (singletons map to themselves): DataFrame(id,
    * comp), comp = min id of the component. The frame stays backed by its
    * path's broadcast or final round; the second element releases that
    * (blocking, idempotent). Callers that return a lazy plan over it (q40,
    * q63) leave the release to Spark's ContextCleaner.
    *
    * @param dedupEdges when true (default), the input edge set is
    *   shuffled through a `distinct` before iterating — required for
    *   arbitrary callers. The ER pipeline passes false: its edges are the
    *   positive scored pairs, which are unique (src,dst) by construction
    *   (candidate pairs are dropDuplicates'd and scoring is 1:1), so the
    *   distinct would be a pure extra shuffle + stage barrier. Duplicate
    *   edges would not break correctness either way (union-find, largeStar's
    *   reduceByKey and smallStar's distinct absorb them) — the flag only
    *   controls whether the first job's input volume is pre-shrunk. */
  def assignManaged(
      spark: SparkSession,
      edges: Dataset[Edge],
      allVertices: DataFrame, // single column "id"
      maxIterations: Int = 30,
      dedupEdges: Boolean = true): (DataFrame, () => Unit) = {
    val a = assignWithin(spark, edges, allVertices, maxIterations, dedupEdges, DriverEdgeBound)
    (a.value, () => a.release())
  }

  /** [[assignManaged]] with the driver-path bound as a parameter. */
  private[graft] def assignWithin(
      spark: SparkSession,
      edges: Dataset[Edge],
      allVertices: DataFrame,
      maxIterations: Int,
      dedupEdges: Boolean,
      driverEdgeBound: Long): Held[DataFrame] = {
    import spark.implicits._
    val partitions = spark.sessionState.conf.numShufflePartitions
    val raw = edges.toDF()
      .select(col("src"), col("dst")).as[(Long, Long)].rdd
      .filter { case (s, d) => s != d }
    val e = Materialize.checkpoint(if (dedupEdges) raw.distinct(partitions) else raw)
    // The initial fingerprint materializes the checkpoint AND yields the
    // edge count for free, which picks the path.
    val fp0 = fingerprint(e.value)
    if (fp0._1 == 0L) { // no edges at all: everyone is a singleton
      e.release()
      new Held(allVertices.select(col("id"), col("id").as("comp")))
    } else if (fp0._1 <= driverEdgeBound) driverPath(spark, e, allVertices)
    else rounds(spark, e, fp0, allVertices, maxIterations, partitions)
  }

  /** The driver path: collect the materialized edges (one job), release
    * them, run union-find, and project `allVertices` through a broadcast of
    * the sorted (id, comp) arrays. */
  private def driverPath(
      spark: SparkSession, e: Held[RDD[(Long, Long)]], allVertices: DataFrame): Held[DataFrame] = {
    val parts = e.value.mapPartitions { it =>
      val b = new scala.collection.mutable.ArrayBuilder.ofLong
      it.foreach { case (s, d) => b += s; b += d }
      Iterator.single(b.result())
    }.collect()
    e.release()
    val bc = spark.sparkContext.broadcast(components(parts))
    val compOf = udf { (id: Long) =>
      val (ids, comps) = bc.value
      val i = java.util.Arrays.binarySearch(ids, id)
      if (i >= 0) comps(i) else id
    }
    new Held(allVertices.select(col("id"), compOf(col("id")).as("comp")), () => bc.destroy())
  }

  /** Union-find over edge lists given as interleaved (src, dst) pairs.
    * Returns the sorted distinct endpoints and, aligned with them, each
    * one's component minimum. Nodes are indexed in id order and a union
    * always keeps the smaller root, so a root's id is its component's
    * minimum. */
  private def components(parts: Array[Array[Long]]): (Array[Long], Array[Long]) = {
    val ends = new Array[Long](parts.iterator.map(_.length).sum)
    var o = 0
    parts.foreach { p => System.arraycopy(p, 0, ends, o, p.length); o += p.length }
    java.util.Arrays.sort(ends)
    var n = 0
    var i = 0
    while (i < ends.length) {
      if (n == 0 || ends(i) != ends(n - 1)) { ends(n) = ends(i); n += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(ends, n)
    val parent = new Array[Int](n)
    i = 0
    while (i < n) { parent(i) = i; i += 1 }
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) } // path halving
      r
    }
    parts.foreach { p =>
      var j = 0
      while (j < p.length) {
        val a = find(java.util.Arrays.binarySearch(ids, p(j)))
        val b = find(java.util.Arrays.binarySearch(ids, p(j + 1)))
        if (a < b) parent(b) = a else if (b < a) parent(a) = b
        j += 2
      }
    }
    val comps = new Array[Long](n)
    i = 0
    while (i < n) { comps(i) = ids(find(i)); i += 1 }
    (ids, comps)
  }

  /** The distributed path: large-star/small-star rounds until the edge
    * fingerprint stops changing. */
  private def rounds(
      spark: SparkSession,
      first: Held[RDD[(Long, Long)]],
      fp0: (Long, Long),
      allVertices: DataFrame,
      maxIterations: Int,
      partitions: Int): Held[DataFrame] = {
    import spark.implicits._
    // Releasing a superseded checkpointed round logs Spark's
    // "cannot be recomputed after unpersisting" WARN. Here that is the
    // intended lifecycle — a superseded round is never recomputed (the
    // next round's checkpoint is already materialized by the same action
    // that read it) — so the per-round warning is pure noise; raise the
    // RDD loggers to ERROR for the classes that emit it.
    Seq("org.apache.spark.rdd.MapPartitionsRDD",
      "org.apache.spark.rdd.ShuffledRDD").foreach(cls =>
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        cls, org.apache.logging.log4j.Level.ERROR))
    // The round partitioner is sized to the edge volume (~8k edges per
    // round task) instead of inheriting the session shuffle width — a
    // session tuned for a 100-TB scan would otherwise run every O(log n)
    // round as a sea of empty tasks whose scheduling latency is pure
    // serial floor (measured: the 307-doc catalog pipeline spent most of
    // its wall time scheduling 96-partition CC rounds). Capped below by 1
    // and above by the session width, so at-scale behavior (edges ≫
    // session width × 8k) is unchanged.
    val hp = IterativeLoop.roundPartitioner(fp0._1, partitions, rowsPerTask = 8192L)
    var e = first
    var prev = fp0
    var iter = 0
    var converged = false
    while (!converged && iter < maxIterations) {
      val superseded = e
      e = Materialize.checkpoint(smallStar(largeStar(e.value, hp), hp))
      val fp = fingerprint(e.value) // materializes this round's checkpoint...
      superseded.release() // ...freeing the last round's
      converged = fp == prev
      prev = fp
      iter += 1
    }
    // Converged edge set is a forest of stars (child -> root); the
    // assignment frame hangs off the final round's checkpoint, released
    // with the returned hold (repeated pipeline passes must end with zero
    // surviving storage blocks — asserted in EntityResolutionSpec).
    val finalRound = e
    val assignments = finalRound.value
      .flatMap { case (s, d) => Iterator((s, d), (d, d)) }
      .reduceByKey(hp, (a: Long, b: Long) => math.min(a, b))
      .toDF("id", "comp")
    val result = allVertices.select(col("id"))
      .join(assignments, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    new Held(result, () => finalRound.release())
  }
}
