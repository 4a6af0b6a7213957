package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Similarity._

class SimilaritySpec extends AnyFunSuite {

  test("jaroWinkler known values") {
    assert(math.abs(jaroWinkler("MARTHA", "MARHTA") - 0.9611) < 0.001)
    assert(math.abs(jaroWinkler("DIXON", "DICKSONX") - 0.8133) < 0.001)
    assert(jaroWinkler("abc", "abc") == 1.0)
    assert(jaroWinkler("abc", "xyz") == 0.0)
    assert(jaroWinkler("", "") == 1.0)
  }

  test("levenshtein known values") {
    assert(levenshtein("kitten", "sitting") == 3)
    assert(levenshtein("", "abc") == 3)
    assert(levenshtein("abc", "abc") == 0)
    assert(levenshteinRatio("kitten", "kitten") == 1.0)
  }

  test("levenshtein agrees with Spark builtin") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{levenshtein => sparkLev, col}
    val cases = Seq(("kitten", "sitting"), ("graft", "craft"), ("", "x"), ("aa", "aaaa"))
    val fromSpark = cases.toDF("a", "b")
      .select(sparkLev(col("a"), col("b"))).as[Int].collect()
    assert(fromSpark.toSeq == cases.map { case (a, b) => levenshtein(a, b) })
  }

  test("sortedJaccard / sparseCosine merge kernels") {
    assert(sortedJaccard(Array(1L, 2L, 3L), Array(2L, 3L, 4L)) == 0.5)
    assert(sortedJaccard(Array.empty[Long], Array.empty[Long]) == 1.0)
    val cos = sparseCosine(
      Array(1L, 2L), Array(1.0f, 1.0f),
      Array(1L, 2L), Array(1.0f, 1.0f))
    assert(math.abs(cos - 1.0) < 1e-12)
    assert(sparseCosine(Array(1L), Array(1.0f), Array(2L), Array(1.0f)) == 0.0)
  }

  test("denseCosine") {
    assert(math.abs(denseCosine(Array(1f, 0f), Array(1f, 0f)) - 1.0) < 1e-12)
    assert(math.abs(denseCosine(Array(1f, 0f), Array(0f, 1f))) < 1e-12)
  }

  test("minhash estimates Jaccard (seeded property sweep)") {
    import graft.functions.Hashing
    for (trial <- 0 until 30) {
      val size = 60 + Hashing.uniformInt(120, 1L, trial)
      val a = Array.tabulate(size)(i => Hashing.hash64(2L, trial, i)).distinct.sorted
      val keep = math.max(1, (a.length * Hashing.uniform(3L, trial)).toInt)
      val b = (a.take(keep) ++
        Array.tabulate(a.length - keep)(i => Hashing.hash64(4L, trial, i))).distinct.sorted
      val trueJac = sortedJaccard(a, b)
      val est = minHashSimilarity(
        minHashSignature(a, 128), minHashSignature(b, 128))
      assert(math.abs(est - trueJac) < 0.25, // 128 perms: coarse but unbiased
        s"trial $trial: est=$est true=$trueJac")
    }
  }

  test("lsh band keys collide iff signature bands agree") {
    val sig1 = Array.tabulate(20)(i => i.toLong)
    val sig2 = sig1.clone(); sig2(19) = 999L // only last band differs
    val k1 = lshBandKeys(sig1, 4)
    val k2 = lshBandKeys(sig2, 4)
    assert(k1.length == 5)
    assert(k1.take(4).sameElements(k2.take(4)))
    assert(k1(4) != k2(4))
  }

  test("simhash: near-identical token sets give small hamming distance") {
    val tokens = Array.tabulate(300)(i => graft.functions.Hashing.hashString("tok" + i))
    val close = tokens.dropRight(5) ++ Array.tabulate(5)(i => graft.functions.Hashing.hashString("new" + i))
    val far = Array.tabulate(300)(i => graft.functions.Hashing.hashString("other" + i))
    assert(hamming64(simHash(tokens), simHash(close)) < 12)
    assert(hamming64(simHash(tokens), simHash(far)) > 20)
  }
}
