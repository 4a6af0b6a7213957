package graft.functions

import graft.functions.Hashing._

/** Pairwise similarity scores and sketching primitives for the
  * record-linkage pipeline. All functions are pure and allocation-light so
  * they can run batched inside `mapPartitions` over candidate pairs (the
  * north rule's scoring stage). Spark's built-in `levenshtein` covers edit
  * distance at the Column level; Jaro-Winkler, MinHash, SimHash and the
  * sorted-array set/vector kernels below are engine code.
  */
object Similarity {

  /** Jaro similarity in [0,1]. Standard public algorithm (Jaro 1989). */
  def jaro(s1: String, s2: String): Double = {
    if (s1 == null || s2 == null) return 0.0
    if (s1 == s2) return 1.0
    val len1 = s1.length
    val len2 = s2.length
    if (len1 == 0 || len2 == 0) return 0.0
    val matchWindow = math.max(0, math.max(len1, len2) / 2 - 1)
    val matched1 = new Array[Boolean](len1)
    val matched2 = new Array[Boolean](len2)
    var matches = 0
    var i = 0
    while (i < len1) {
      val lo = math.max(0, i - matchWindow)
      val hi = math.min(len2 - 1, i + matchWindow)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!matched2(j) && s1.charAt(i) == s2.charAt(j)) {
          matched1(i) = true
          matched2(j) = true
          matches += 1
          found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var transpositions = 0
    var k = 0
    i = 0
    while (i < len1) {
      if (matched1(i)) {
        while (!matched2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) transpositions += 1
        k += 1
      }
      i += 1
    }
    val m = matches.toDouble
    (m / len1 + m / len2 + (m - transpositions / 2.0) / m) / 3.0
  }

  /** Jaro-Winkler: Jaro boosted by shared prefix (<=4 chars, p=0.1). */
  def jaroWinkler(s1: String, s2: String): Double = {
    val j = jaro(s1, s2)
    if (j <= 0.7) return j
    var prefix = 0
    val maxPrefix = math.min(4, math.min(
      if (s1 == null) 0 else s1.length,
      if (s2 == null) 0 else s2.length))
    while (prefix < maxPrefix && s1.charAt(prefix) == s2.charAt(prefix)) prefix += 1
    j + prefix * 0.1 * (1.0 - j)
  }

  /** Levenshtein distance (iterative two-row DP). Spark has a Column-level
    * builtin; this scalar twin serves mapPartitions scoring + tests. */
  def levenshtein(s1: String, s2: String): Int = {
    if (s1 == null) return if (s2 == null) 0 else s2.length
    if (s2 == null) return s1.length
    if (s1 == s2) return 0
    val n = s2.length
    var prev = Array.tabulate(n + 1)(identity)
    var curr = new Array[Int](n + 1)
    var i = 1
    while (i <= s1.length) {
      curr(0) = i
      var j = 1
      while (j <= n) {
        val cost = if (s1.charAt(i - 1) == s2.charAt(j - 1)) 0 else 1
        curr(j) = math.min(math.min(curr(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
        j += 1
      }
      val tmp = prev; prev = curr; curr = tmp
      i += 1
    }
    prev(n)
  }

  /** Normalized Levenshtein similarity in [0,1]. */
  def levenshteinRatio(s1: String, s2: String): Double = {
    val maxLen = math.max(if (s1 == null) 0 else s1.length, if (s2 == null) 0 else s2.length)
    if (maxLen == 0) 1.0 else 1.0 - levenshtein(s1, s2).toDouble / maxLen
  }

  /** Jaccard over two SORTED distinct long arrays (merge-join kernel). */
  def sortedJaccard(a: Array[Long], b: Array[Long]): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  /** Cosine over two sparse vectors as parallel (sorted keys, weights)
    * arrays — the merge-join dot product for TF-IDF cosine, accumulated
    * in double. TF-IDF weights ship as floats — half the shuffle bytes of
    * the pairwise scoring joins, the pipeline's biggest byte-mover — and
    * the ~1e-7 relative error is noise against the ≥0.15 decision margins
    * (PairScoring.decide). */
  def sparseCosine(ka: Array[Long], wa: Array[Float], kb: Array[Long], wb: Array[Float]): Double = {
    var i = 0; var j = 0
    var dot = 0.0; var na = 0.0; var nb = 0.0
    while (i < ka.length) { na += wa(i).toDouble * wa(i); i += 1 }
    while (j < kb.length) { nb += wb(j).toDouble * wb(j); j += 1 }
    if (na == 0.0 || nb == 0.0) return 0.0
    i = 0; j = 0
    while (i < ka.length && j < kb.length) {
      if (ka(i) == kb(j)) { dot += wa(i).toDouble * wb(j); i += 1; j += 1 }
      else if (ka(i) < kb(j)) i += 1
      else j += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** Dense cosine over two float vectors (embedding similarity). */
  def denseCosine(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Shingle hashes from pre-hashed tokens: combines n consecutive token
    * hashes with the mixer — no string concatenation in the hot loop. */
  def shingleHashesFromTokenHashes(tokenHashes: Array[Long], n: Int): Array[Long] = {
    if (tokenHashes.length < n) {
      if (tokenHashes.isEmpty) return Array.empty
      var h = 0x2545f4914f6cdd1dL
      var i = 0
      while (i < tokenHashes.length) { h = mix64(h ^ tokenHashes(i)); i += 1 }
      return Array(h)
    }
    val out = new Array[Long](tokenHashes.length - n + 1)
    var i = 0
    while (i + n <= tokenHashes.length) {
      var h = 0x2545f4914f6cdd1dL
      var j = i
      while (j < i + n) { h = mix64(h ^ tokenHashes(j)); j += 1 }
      out(i) = h
      i += 1
    }
    // sorted-distinct in place (no boxing, no second allocation unless
    // duplicates exist)
    java.util.Arrays.sort(out)
    var w = 0
    i = 0
    while (i < out.length) {
      if (w == 0 || out(i) != out(w - 1)) { out(w) = out(i); w += 1 }
      i += 1
    }
    if (w == out.length) out else java.util.Arrays.copyOfRange(out, 0, w)
  }

  /** MinHash signature: for permutation p, min over shingles of
    * mix64(shingle ^ seed_p). Deterministic, seed-stable across runs. */
  def minHashSignature(shingles: Array[Long], numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var p = 0
    while (p < numHashes) {
      val seed = mix64(0x9e3779b97f4a7c15L * (p + 1))
      var best = Long.MaxValue
      var i = 0
      while (i < shingles.length) {
        val h = mix64(shingles(i) ^ seed)
        if (h < best) best = h
        i += 1
      }
      sig(p) = best
      p += 1
    }
    sig
  }

  /** MinHash with affine permutations g_p(x) = (a_p * x + b_p) mod 2^32
    * over hashes in [0, 2^32): the oracle-reproducible twin of
    * [[minHashSignature]] — same min-over-permutations structure, hash
    * family swapped for one DuckDB can evaluate ([[graft.functions.OracleHash]]).
    * Multipliers must be < 2^31 so a*x never overflows a signed 64-bit int
    * (the oracle engine raises on overflow; nothing may wrap). */
  def minHashSignatureAffine(
      hashes: Array[Long], as: Array[Long], bs: Array[Long]): Array[Long] = {
    val sig = new Array[Long](as.length)
    var p = 0
    while (p < as.length) {
      var best = Long.MaxValue
      var i = 0
      while (i < hashes.length) {
        val g = (as(p) * hashes(i) + bs(p)) % OracleHash.Mod
        if (g < best) best = g
        i += 1
      }
      sig(p) = if (best == Long.MaxValue) 0L else best // empty input -> 0
      p += 1
    }
    sig
  }

  /** Polynomial band-key fold over a signature, mod-2^32 arithmetic — the
    * oracle-reproducible twin of [[lshBandKeys]]: band b's key starts at
    * b+1 and folds `rowsPerBand` consecutive signature entries with
    * k = (k * mult + v) mod m. */
  def bandKeysPoly(sig: Array[Long], rowsPerBand: Int, mult: Long, mod: Long): Array[Long] = {
    val bands = sig.length / rowsPerBand
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var k = (b + 1).toLong
      var r = 0
      while (r < rowsPerBand) {
        k = (k * mult + sig(b * rowsPerBand + r)) % mod
        r += 1
      }
      keys(b) = k
      b += 1
    }
    keys
  }

  /** LSH band keys from a MinHash signature: one 64-bit key per band,
    * hashing `rowsPerBand` consecutive signature entries + the band index.
    * Two docs share a band key iff their signatures agree on that band. */
  def lshBandKeys(sig: Array[Long], rowsPerBand: Int): Array[Long] = {
    val bands = sig.length / rowsPerBand
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = mix64(0x51_7c_c1_b7_27_22_0a_95L ^ b.toLong)
      var r = 0
      while (r < rowsPerBand) {
        h = mix64(h ^ sig(b * rowsPerBand + r))
        r += 1
      }
      keys(b) = h
      b += 1
    }
    keys
  }

  /** Estimated Jaccard from two MinHash signatures. */
  def minHashSimilarity(a: Array[Long], b: Array[Long]): Double = {
    val n = math.min(a.length, b.length)
    if (n == 0) return 0.0
    var same = 0
    var i = 0
    while (i < n) { if (a(i) == b(i)) same += 1; i += 1 }
    same.toDouble / n
  }

  /** 64-bit SimHash over hashed tokens (Charikar 2002): sign of the
    * per-bit weighted sums. */
  def simHash(tokenHashes: Array[Long]): Long = {
    val counts = new Array[Int](64)
    var i = 0
    while (i < tokenHashes.length) {
      val h = tokenHashes(i)
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) counts(bit) += 1 else counts(bit) -= 1
        bit += 1
      }
      i += 1
    }
    var out = 0L
    var bit = 0
    while (bit < 64) {
      if (counts(bit) > 0) out |= (1L << bit)
      bit += 1
    }
    out
  }

  /** Hamming distance between two 64-bit sketches. */
  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
}
