package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Hashing, OracleHash}
import graft.functions.Similarity.denseCosine
import graft.util.Materialize

/** Similarity search over an embedding column.
  *
  * Two paths (training-data pipeline requirement):
  *  - brute force: query × corpus cosine + per-query top-k — exact,
  *    O(|Q|·|C|), the baseline (catalog query q24);
  *  - LSH-bucketed: sign-random-projection signatures banded into bucket
  *    keys; candidates = bucket co-members, exactly re-ranked (q34).
  *
  * Scale design of the LSH path:
  *  - ≥16 bits per band (default 96 planes / 6 bands): bucket cardinality
  *    2^16 per band, so candidate volume stays ~linear in corpus size —
  *    4-bit bands (16 buckets) would degenerate to ~N²/16 pairs;
  *  - hot-bucket cap: buckets above `maxBucketSize` corpus members are
  *    dropped (the stop-block analog in Blocking.sharedKeyPairs, which
  *    this path does not share: it pairs a query set against a corpus,
  *    caps only the corpus side, and for q40 emits both orders of a pair);
  *  - (qid, cid) candidate ids are deduplicated across bands BEFORE the
  *    float vectors are re-attached — the wide rows never ride through the
  *    dedup shuffle.
  *
  * Signatures use integer-quantized vectors (floor(x·10⁴)) so the plane
  * dots are exact integer arithmetic — byte-identical across engines and
  * summation orders; with the md5 sign matrix ([[OracleHash.planeSign]])
  * the DuckDB oracle recomputes every signature, bucket, and candidate
  * (catalog q34). Production uses the fast seeded sign matrix.
  */
object SimilaritySearch {

  final case class EmbeddingRow(id: Long, vec: Array[Float])

  val DefaultPlanes = 96
  val DefaultBands = 6 // 16 bits per band
  val DefaultMaxBucketSize = 128
  val QuantScale = 10000.0

  /** floor(x · 10⁴) per component: exact in IEEE double, so any engine
    * computes the identical integers (no float-sum order sensitivity in
    * the signature path). 1e-4 quantization is far below embedding noise. */
  def quantized(vec: Array[Float]): Array[Long] = {
    val out = new Array[Long](vec.length)
    var i = 0
    while (i < vec.length) {
      out(i) = math.floor(vec(i).toDouble * QuantScale).toLong
      i += 1
    }
    out
  }

  /** Production ±1 hyperplane matrix — deterministic from the seed, stable
    * across runs and cluster sizes. */
  def hashSigns(numPlanes: Int, dims: Int, seed: Long): Array[Array[Long]] =
    Array.tabulate(numPlanes, dims)((p, d) =>
      if ((Hashing.hash64(seed, p.toLong, d.toLong) & 1L) == 0L) 1L else -1L)

  /** Oracle-reproducible ±1 matrix (md5 parity — OracleHash.planeSign). */
  def oracleSigns(numPlanes: Int, dims: Int): Array[Array[Long]] =
    Array.tabulate(numPlanes, dims)((p, d) => OracleHash.planeSign(p, d))

  /** Banded bucket keys: signature bit p is set iff Σ_d qv(d)·sign(p,d) ≥ 0;
    * band b's key = b · 2³² + its (planes/bands)-bit slice. Integer
    * arithmetic end-to-end (|qv| ≤ 2^40·dims stays far from overflow). */
  def bucketKeysOf(qv: Array[Long], signs: Array[Array[Long]], bands: Int): Array[Long] = {
    val numPlanes = signs.length
    val bits = numPlanes / bands
    val keys = new Array[Long](bands)
    var p = 0
    while (p < numPlanes) {
      val s = signs(p)
      val n = math.min(qv.length, s.length)
      var dot = 0L
      var d = 0
      while (d < n) { dot += qv(d) * s(d); d += 1 }
      if (dot >= 0L) keys(p / bits) |= (1L << (p % bits))
      p += 1
    }
    var b = 0
    while (b < bands) { keys(b) = b.toLong * 4294967296L + keys(b); b += 1 }
    keys
  }

  /** Exact brute-force top-k: per query, the k nearest corpus rows by
    * cosine (excluding self-matches by id). */
  def bruteForceTopK(
      spark: SparkSession,
      queries: Dataset[EmbeddingRow],
      corpus: Dataset[EmbeddingRow],
      k: Int): DataFrame = {
    import spark.implicits._
    val scored = queries.toDF("qid", "qvec")
      .crossJoin(corpus.toDF("cid", "cvec"))
      .where(col("qid") =!= col("cid"))
      .as[(Long, Array[Float], Long, Array[Float])]
      .mapPartitions(_.map { case (qid, qvec, cid, cvec) =>
        (qid, cid, denseCosine(qvec, cvec))
      })
      .toDF("qid", "cid", "cosine")
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("cosine").desc, col("cid"))))
      .where(col("rnk") <= k)
      .select("qid", "cid", "cosine", "rnk")
  }

  /** LSH candidate set with exact cosines, pre-ranking: ids-only bucket
    * join (hot buckets capped) → (qid, cid) dedup → vectors re-attached →
    * cosine in mapPartitions. Returns (qid, cid, cosine). */
  def lshCandidates(
      spark: SparkSession,
      queries: Dataset[EmbeddingRow],
      corpus: Dataset[EmbeddingRow],
      signs: Array[Array[Long]],
      bands: Int = DefaultBands,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    import spark.implicits._
    val signsB = spark.sparkContext.broadcast(signs)
    def keyed(ds: Dataset[EmbeddingRow], idName: String): DataFrame =
      ds.flatMap { r =>
        bucketKeysOf(quantized(r.vec), signsB.value, bands).map(k => (k, r.id))
      }.toDF("bucket", idName)
    // r07: corpus bucket keys feed TWO consumers (the size histogram and
    // the bucket join) — localCheckpoint the ids-only key table so the
    // signature pass (planes×dims integer dots per row) runs once; and
    // when the query set IS the corpus (the near-dup dedup path, q40),
    // the query keys are the same table relabeled instead of a third
    // signature pass. Values are unchanged by construction.
    val cKeys = Materialize.checkpoint(keyed(corpus, "cid")).value
    val sizes = cKeys.groupBy("bucket").agg(count(lit(1)).as("sz"))
    val eligible = sizes.where(col("sz") <= maxBucketSize).select("bucket")
    val qKeys =
      if (queries eq corpus) cKeys.select(col("bucket"), col("cid").as("qid"))
      else keyed(queries, "qid")
    val candIds = qKeys
      .join(cKeys.join(eligible, "bucket"), "bucket")
      .where(col("qid") =!= col("cid"))
      .select("qid", "cid")
      .dropDuplicates("qid", "cid") // ids only — no vectors in this shuffle
    candIds
      .join(queries.toDF("qid", "qvec"), "qid")
      .join(corpus.toDF("cid", "cvec"), "cid")
      .select(col("qid"), col("cid"), col("qvec"), col("cvec"))
      .as[(Long, Long, Array[Float], Array[Float])]
      .mapPartitions(_.map { case (qid, cid, a, b) =>
        (qid, cid, denseCosine(a, b))
      })
      .toDF("qid", "cid", "cosine")
  }

  val DefaultNumCentroids = 16
  val DefaultNProbe = 4
  val DefaultTrainIterations = 2

  /** Spark `round(_, 4)` / DuckDB `round(_, 4)` parity: half away from
    * zero. Assignment decisions made in Scala code (the coarse quantizer)
    * must round exactly like the SQL oracle's `round(cs, 4)`. */
  def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Nearest centroid id by 4dp-rounded cosine, smaller id on ties —
    * identical to `row_number() OVER (ORDER BY cs DESC, cent_id)` = 1. */
  def nearestCentroids(
      vec: Array[Float], centroids: Array[(Long, Array[Float])], n: Int): Array[Long] =
    centroids
      .map { case (cid, cvec) => (round4(denseCosine(vec, cvec)), cid) }
      .sortBy { case (cs, cid) => (-cs, cid) }
      .take(n)
      .map(_._2)

  /** Cosine between two integer (quantized / centroid-sum) vectors,
    * accumulated in IEEE double in index order — the exact expression the
    * DuckDB oracle evaluates (`Queries.cosSql` over BIGINT lists).
    *
    * Parity invariant (ADVICE r04): IDENTICAL-ORDER IEEE double
    * evaluation, not exactness. These sequential loops mirror DuckDB's
    * `list_sum` element order term for term, so both engines round the
    * same way at every step. (Quantized DOCUMENT vectors do keep every
    * product ≤ ~2^52 and thus exact, but a trained-centroid self-norm can
    * exceed 2^52 — a centroid summing ~7k members has components ~7e7
    * whose squares ~5e15 overflow the exact-integer range of a double —
    * so order-matched rounding, not magnitude, is what carries parity.) */
  def cosQ(a: Array[Long], b: Array[Long]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0
    var d = 0
    while (d < n) { dot += a(d).toDouble * b(d).toDouble; d += 1 }
    var na = 0.0
    var i = 0
    while (i < a.length) { val x = a(i).toDouble; na += x * x; i += 1 }
    var nb = 0.0
    var j = 0
    while (j < b.length) { val y = b(j).toDouble; nb += y * y; j += 1 }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** [[nearestCentroids]] over quantized vectors and an integer-sum
    * codebook (same 4dp rounding + id tiebreak discipline). */
  def nearestCentroidsQ(
      qv: Array[Long], centroids: Array[(Long, Array[Long])], n: Int): Array[Long] =
    centroids
      .map { case (cidx, cent) => (round4(cosQ(qv, cent)), cidx) }
      .sortBy { case (cs, cidx) => (-cs, cidx) }
      .take(n)
      .map(_._2)

  /** Deterministic in-engine Lloyd's training for the IVF coarse
    * quantizer (VERDICT r03 #4 — the codebook is no longer a lowest-id
    * stand-in):
    *
    *  - seeded init: the `numCentroids` lowest-id corpus vectors,
    *    quantized (floor(x·10⁴) — the signature-path discipline);
    *  - assignment: nearest centroid by 4dp-ROUNDED cosine, centroid-index
    *    tiebreak — every decision a SQL oracle reproduces bit-for-bit;
    *  - update: the new centroid is the component-wise INTEGER SUM of its
    *    members' quantized vectors. Cosine is scale-invariant, so the sum
    *    is the mean direction without a division — and integer sums are
    *    associative, so the distributed reduction is order-free (a
    *    float-mean codebook would differ run to run with partitioning);
    *  - empty clusters carry the previous centroid forward;
    *  - fixed iteration count (default 2), no convergence test — fully
    *    deterministic, unrollable as SQL CTEs by the oracle (q41).
    *
    * Scale shape: each iteration is ONE map-side pass over the corpus
    * (broadcast codebook, per-partition k×dims accumulators, treeReduce) —
    * no wide shuffle; at 100 TB the pass runs over a sample, same code. */
  def trainCodebook(
      spark: SparkSession,
      corpus: Dataset[EmbeddingRow],
      numCentroids: Int = DefaultNumCentroids,
      iterations: Int = DefaultTrainIterations): Array[(Long, Array[Long])] = {
    import spark.implicits._
    // r07: the quantized corpus is consumed once per Lloyd iteration plus
    // the seed collect — cache it so quantization + encoder decode run
    // once instead of (iterations + 1) times; released before returning.
    val qcorpus = Materialize.cache(corpus.map(r => (r.id, quantized(r.vec))))
    val seeds = qcorpus.value.orderBy(col("_1")).limit(numCentroids)
      .collect().sortBy(_._1)
    var cents: Array[(Long, Array[Long])] =
      seeds.zipWithIndex.map { case ((_, qv), j) => (j.toLong, qv) }
    var it = 0
    while (it < iterations) {
      val centB = spark.sparkContext.broadcast(cents)
      val (sums, counts) = qcorpus.value.rdd.mapPartitions { rows =>
        val cs = centB.value
        val dims = cs(0)._2.length
        val s = Array.fill(cs.length)(new Array[Long](dims))
        val cnt = new Array[Long](cs.length)
        rows.foreach { case (_, qv) =>
          val j = nearestCentroidsQ(qv, cs, 1)(0).toInt
          cnt(j) += 1L
          val lim = math.min(dims, qv.length)
          var d = 0
          while (d < lim) { s(j)(d) += qv(d); d += 1 }
        }
        Iterator.single((s, cnt))
      }.treeReduce { case ((s1, c1), (s2, c2)) =>
        var j = 0
        while (j < s1.length) {
          var d = 0
          while (d < s1(j).length) { s1(j)(d) += s2(j)(d); d += 1 }
          c1(j) += c2(j)
          j += 1
        }
        (s1, c1)
      }
      cents = cents.map { case (j, prev) =>
        if (counts(j.toInt) == 0L) (j, prev) else (j, sums(j.toInt))
      }
      centB.destroy()
      it += 1
    }
    qcorpus.release()
    cents
  }

  /** IVF-flat approximate top-k — the inverted-file ANN layout (the other
    * standard scale path next to sign-LSH [[lshTopK]]):
    *
    *  - coarse quantizer: a small centroid codebook, BROADCAST (the IVF
    *    invariant — codebooks are ≤64k entries by construction, exactly
    *    Spark's small-dim broadcast case). Trained IN-ENGINE by
    *    [[trainCodebook]]'s deterministic Lloyd's iterations
    *    (`trainIterations` rounds; 0 = the quantized lowest-id seeds,
    *    the pre-r04 stand-in).
    *  - inverted lists: each corpus row assigned map-side to its nearest
    *    centroid (NO shuffle — the classic IVF win over all-pairs);
    *  - probe: each query scores the codebook and joins the `nprobe`
    *    nearest lists; candidates are (qid, cid) ids only, vectors
    *    re-attached after dedup (same payload discipline as LSH);
    *  - exact rerank: cosine in mapPartitions, per-query top-k window.
    *
    * Assignment + ranking use 4dp-rounded cosines with id tiebreaks, so a
    * SQL oracle reproduces every list, probe, and rank bit-for-bit. */
  def ivfFlatTopK(
      spark: SparkSession,
      queries: Dataset[EmbeddingRow],
      corpus: Dataset[EmbeddingRow],
      k: Int,
      numCentroids: Int = DefaultNumCentroids,
      nprobe: Int = DefaultNProbe,
      trainIterations: Int = DefaultTrainIterations): DataFrame = {
    import spark.implicits._
    val codebook = trainCodebook(spark, corpus, numCentroids, trainIterations)
    val centB = spark.sparkContext.broadcast(codebook)
    val lists = corpus.map { r =>
      (nearestCentroidsQ(quantized(r.vec), centB.value, 1)(0), r.id)
    }.toDF("cent_id", "cid")
    val probes = queries.flatMap { q =>
      nearestCentroidsQ(quantized(q.vec), centB.value, nprobe).map(c => (c, q.id))
    }.toDF("cent_id", "qid")
    val candIds = probes.join(lists, "cent_id")
      .where(col("qid") =!= col("cid"))
      .select("qid", "cid")
      .dropDuplicates("qid", "cid") // a cid can sit in ≤1 list, but qid probes overlap after the join
    candIds
      .join(queries.toDF("qid", "qvec"), "qid")
      .join(corpus.toDF("cid", "cvec"), "cid")
      .as[(Long, Long, Array[Float], Array[Float])]
      .mapPartitions(_.map { case (cid, qid, qvec, cvec) =>
        (qid, cid, denseCosine(qvec, cvec))
      })
      .toDF("qid", "cid", "cosine")
      .withColumn("cos_sim", round(col("cosine"), 4))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("cid"))).cast("long"))
      .where(col("rnk") <= k)
      .select("qid", "cid", "cos_sim", "rnk")
  }

  /** LSH-bucketed approximate top-k (production wrapper): candidates from
    * [[lshCandidates]], per-query top-k window. */
  def lshTopK(
      spark: SparkSession,
      queries: Dataset[EmbeddingRow],
      corpus: Dataset[EmbeddingRow],
      k: Int,
      numPlanes: Int = DefaultPlanes,
      bands: Int = DefaultBands,
      seed: Long = 42L,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val dims = corpus.head().vec.length
    val cands =
      lshCandidates(spark, queries, corpus, hashSigns(numPlanes, dims, seed),
        bands, maxBucketSize)
    cands
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("cosine").desc, col("cid"))))
      .where(col("rnk") <= k)
      .select("qid", "cid", "cosine", "rnk")
  }
}
