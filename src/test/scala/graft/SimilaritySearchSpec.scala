package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SimilaritySearch
import graft.operators.SimilaritySearch.EmbeddingRow

/** ANN over the embeddings table: brute-force baseline vs LSH-bucketed
  * scale path (recall measured against the exact top-k). */
class SimilaritySearchSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private lazy val embeddings = {
    import spark.implicits._
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .selectExpr("vec_id AS id", "embedding AS vec")
      .as[EmbeddingRow]
      .cache()
  }

  test("brute-force top-k is exact, ordered, self-excluded") {
    import spark.implicits._
    val queries = embeddings.filter((r: EmbeddingRow) => r.id < 5)
    val topk = SimilaritySearch.bruteForceTopK(spark, queries, embeddings, 10)
      .collect()
    assert(topk.length == 50) // 5 queries x 10
    val byQuery = topk.groupBy(_.getLong(0))
    byQuery.values.foreach { rows =>
      val cosines = rows.sortBy(_.getInt(3)).map(_.getDouble(2)).toSeq
      assert(cosines == cosines.sorted.reverse) // descending by rank
      assert(!rows.exists(r => r.getLong(1) == r.getLong(0))) // no self
    }
  }

  test("LSH retrieves near-duplicate vectors at a fraction of brute-force cost") {
    import spark.implicits._
    // the dedup use case: queries are slightly perturbed corpus vectors
    // (cosine ~0.99 to their source) — sign-LSH collides them reliably,
    // while near-orthogonal random pairs mostly do not
    val nQueries = 50
    val queries = embeddings.filter((r: EmbeddingRow) => r.id < nQueries)
      .map { r =>
        val noisy = r.vec.zipWithIndex.map { case (x, i) =>
          x + 0.02f * ((graft.functions.Hashing.hash64(9L, r.id, i) % 100) / 100.0f)
        }
        EmbeddingRow(r.id + 1000000L, noisy)
      }
    val hits = SimilaritySearch.lshTopK(spark, queries, embeddings, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val recovered = hits.count { case (qid, cid) => qid - 1000000L == cid }
    assert(recovered >= (nQueries * 0.9).toInt, s"recovered $recovered/$nQueries")
    // and the bucket join prunes: candidate pairs << |Q| x |C|
    val candidateCount = SimilaritySearch.lshTopK(spark, queries, embeddings, 500)
      .count()
    assert(candidateCount < nQueries.toLong * 500L / 2, s"candidates = $candidateCount")
  }

  test("signatures and buckets are deterministic") {
    val vec = Array.tabulate(64)(i => (i % 7 - 3).toFloat)
    val signs = SimilaritySearch.hashSigns(96, 64, 42L)
    val k1 = SimilaritySearch.bucketKeysOf(SimilaritySearch.quantized(vec), signs, 6)
    val k2 = SimilaritySearch.bucketKeysOf(SimilaritySearch.quantized(vec.clone()), signs, 6)
    assert(k1.toSeq == k2.toSeq)
    assert(k1.length == 6)
    // band index is baked into the key: keys of different bands never collide
    assert(k1.map(_ / 4294967296L).toSeq == (0 until 6).map(_.toLong))
  }

  test("lshCandidates: the queries-eq-corpus path equals the recompute path") {
    import spark.implicits._
    // when the query set IS the corpus, the query bucket keys are the
    // corpus keys relabeled; an equal but distinct Dataset takes the
    // recompute path. Planted near-duplicates keep the candidate set
    // non-empty.
    val corpus = embeddings.union(embeddings.map((r: EmbeddingRow) =>
      EmbeddingRow(r.id + 1000000L, r.vec.map(_ + 0.001f))))
    val equalCopy = corpus.toDF().as[EmbeddingRow]
    assert(!(equalCopy eq corpus))
    val signs = SimilaritySearch.hashSigns(SimilaritySearch.DefaultPlanes, 64, 42L)
    def rows(queries: org.apache.spark.sql.Dataset[EmbeddingRow]) =
      SimilaritySearch.lshCandidates(spark, queries, corpus, signs)
        .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    val shared = rows(corpus)
    assert(shared.nonEmpty)
    assert(shared == rows(equalCopy))
  }

  test("candidate volume grows ~linearly with corpus size (16-bit bands)") {
    import spark.implicits._
    // Perturbed copies double the corpus AND co-bucket with their sources.
    // With 16-bit band keys, candidate volume must scale ~linearly in
    // corpus size; a 16-bucket scheme (4-bit bands) would go ~quadratic.
    def noisy(r: EmbeddingRow, salt: Long): EmbeddingRow = EmbeddingRow(
      r.id + salt,
      r.vec.zipWithIndex.map { case (x, i) =>
        x + 0.01f * ((graft.functions.Hashing.hash64(salt, r.id, i) % 100) / 100.0f)
      })
    val corpus1 = embeddings
    val corpus2 = corpus1.union(corpus1.map((r: EmbeddingRow) => noisy(r, 2000000L)))
    val queries = corpus1.filter((r: EmbeddingRow) => r.id < 25)
      .map((r: EmbeddingRow) => noisy(r, 1000000L))
    val signs = SimilaritySearch.hashSigns(
      SimilaritySearch.DefaultPlanes, 64, 42L)
    val c1 = SimilaritySearch.lshCandidates(spark, queries, corpus1, signs).count()
    val c2 = SimilaritySearch.lshCandidates(spark, queries, corpus2, signs).count()
    assert(c1 > 0, "no candidates at base corpus")
    assert(c2 <= 3 * c1 + 25, s"superlinear candidate growth: $c1 -> $c2")
    // and the bucket join prunes hard vs the cross product
    val n = corpus1.count()
    assert(c1 < 25L * n / 2, s"candidates = $c1 of ${25L * n}")
  }

  test("IVF assignment picks the argmax-cosine centroid (rounded, id tiebreak)") {
    val codebook = embeddings.collect().sortBy(_.id).take(16).map(r => (r.id, r.vec))
    embeddings.collect().take(50).foreach { r =>
      val got = SimilaritySearch.nearestCentroids(r.vec, codebook, 1)(0)
      val want = codebook
        .map { case (cid, cv) =>
          (SimilaritySearch.round4(graft.functions.Similarity.denseCosine(r.vec, cv)), cid)
        }
        .maxBy { case (cs, cid) => (cs, -cid) }._2
      assert(got == want, s"vec ${r.id}: assigned $got, argmax $want")
    }
  }

  test("IVF-flat: probed-list containment, rank bound, and recall vs brute force") {
    import spark.implicits._
    val queries = embeddings.filter((r: EmbeddingRow) => r.id < 20)
    val ivf = SimilaritySearch.ivfFlatTopK(spark, queries, embeddings, 3).collect()
    assert(ivf.nonEmpty)
    // per-query: ranks are 1..k without gaps, no self-matches
    ivf.groupBy(_.getLong(0)).values.foreach { rows =>
      assert(rows.map(_.getLong(3)).sorted.toSeq == (1L to rows.length))
      assert(!rows.exists(r => r.getLong(1) == r.getLong(0)))
    }
    // every returned candidate really sits in one of its query's probed
    // lists — the defining IVF invariant (no candidate outside the probes);
    // probes recomputed against the same TRAINED codebook the operator uses
    val codebook = SimilaritySearch.trainCodebook(spark, embeddings)
    val vecs = embeddings.collect().map(r => r.id -> r.vec).toMap
    ivf.foreach { r =>
      val probed = SimilaritySearch.nearestCentroidsQ(
        SimilaritySearch.quantized(vecs(r.getLong(0))), codebook, 4).toSet
      val assigned = SimilaritySearch.nearestCentroidsQ(
        SimilaritySearch.quantized(vecs(r.getLong(1))), codebook, 1)(0)
      assert(probed.contains(assigned),
        s"qid ${r.getLong(0)}: cid ${r.getLong(1)} from unprobed list $assigned")
    }
    // recall@1 vs exact brute force: with nprobe=4 of 16 lists, most
    // queries' true nearest neighbor sits in a probed list
    val exact1 = SimilaritySearch.bruteForceTopK(spark, queries, embeddings, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val ivf1 = ivf.filter(_.getLong(3) == 1L).map(r => (r.getLong(0), r.getLong(1))).toMap
    val hits = exact1.count { case (q, c) => ivf1.get(q).contains(c) }
    assert(hits >= (exact1.size * 0.5).toInt, s"recall@1 $hits/${exact1.size}")
  }

  test("Lloyd codebook training is deterministic, sum-exact, and does not hurt recall") {
    import spark.implicits._
    // deterministic: two independent trainings are element-identical
    val cb1 = SimilaritySearch.trainCodebook(spark, embeddings)
    val cb2 = SimilaritySearch.trainCodebook(spark, embeddings)
    assert(cb1.length == SimilaritySearch.DefaultNumCentroids)
    assert(cb1.zip(cb2).forall { case ((i, a), (j, b)) => i == j && a.sameElements(b) })
    // sum-exact: re-derive the final round's centroids by hand — assign
    // every quantized vector to its nearest PREVIOUS-round centroid and
    // integer-sum the members; must reproduce trainCodebook bit-for-bit
    val prev = SimilaritySearch.trainCodebook(
      spark, embeddings, iterations = SimilaritySearch.DefaultTrainIterations - 1)
    val qvecs = embeddings.collect().sortBy(_.id)
      .map(r => r.id -> SimilaritySearch.quantized(r.vec))
    val members = qvecs.groupBy { case (_, qv) =>
      SimilaritySearch.nearestCentroidsQ(qv, prev, 1)(0)
    }
    val expect = prev.map { case (cidx, prevCent) =>
      members.get(cidx) match {
        case None => (cidx, prevCent) // empty cluster carries forward
        case Some(ms) =>
          val dims = prevCent.length
          val s = new Array[Long](dims)
          ms.foreach { case (_, qv) =>
            var d = 0; while (d < dims) { s(d) += qv(d); d += 1 }
          }
          (cidx, s)
      }
    }
    assert(cb1.zip(expect).forall { case ((i, a), (j, b)) => i == j && a.sameElements(b) })
    // recall@3 overlap with exact brute force: training must not fall
    // below the untrained (iterations=0, quantized-seed) codebook
    val queries = embeddings.filter((r: EmbeddingRow) => r.id < 20)
    def recall3(iters: Int): Int = {
      val approx = SimilaritySearch
        .ivfFlatTopK(spark, queries, embeddings, 3, trainIterations = iters)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = SimilaritySearch.bruteForceTopK(spark, queries, embeddings, 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (approx intersect exact).size
    }
    val trained = recall3(SimilaritySearch.DefaultTrainIterations)
    val untrained = recall3(0)
    assert(trained >= untrained,
      s"training hurt recall@3: trained $trained < seed-codebook $untrained")
  }
}
