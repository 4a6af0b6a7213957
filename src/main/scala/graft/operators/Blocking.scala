package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Hashing._
import graft.functions.{Similarity, TextFunctions}

/** Document features + blocking-key generation for record linkage.
  *
  * Two native key families (north rule):
  *  - normalized-title key: `cleanEntity(title)` — the Spark-native
  *    generalization of the reference's entity key
  *    (/root/reference/src/db.py:12-13, UNIQUE(text) at
  *    db/create_tables.sql:41);
  *  - MinHash-LSH band keys over word 3-shingles of the ASCII-folded text
  *    (bands=5 × rows=4 → Jaccard threshold ≈ 0.67).
  *
  * Shuffle layout: the per-document [[sketch]] is map-only; TF-IDF adds
  * one partial-agg shuffle (document frequency by token, broadcast back);
  * key explosion is map-only. Candidate pairs come from
  * [[sharedKeyPairs]], the one operator that turns (key, id) entries into
  * (src, dst, shared keys): one shuffle by key forms the blocks, a block
  * over the cap (boilerplate-heavy domains) emits nothing, and one
  * aggregate by pair leaves the pairs hash-partitioned by pair for
  * scoring.
  */
object Blocking {

  final case class ExtractedDoc(id: Long, url: String, title: String, text: String, lang: String)

  /** One `features` row, exactly what later stages read: `blockEntries`
    * reads `normTitle`/`minhash`, scoring `id`/`normTitle`/`tokenHashes`/
    * `tfWeights`, the cluster table `url`. */
  final case class DocFeatures(
      id: Long,
      url: String,
      normTitle: String,
      tokenHashes: Array[Long], // sorted distinct: Jaccard set AND TF-IDF keys
      tfWeights: Array[Float], // parallel to tokenHashes (TF-IDF vector; float — half the shuffle/persist bytes, error ≪ decision margins)
      minhash: Array[Long])

  final case class BlockEntry(key: Long, id: Long)
  final case class CandidatePair(src: Long, dst: Long)

  val NumMinHashes = 20
  val RowsPerBand = 4
  val ShingleSize = 3
  val DefaultMaxBlockSize = 128

  /** Stable 64-bit doc id from the url — content-hash ids instead of
    * auto-increment (SURVEY §1.2: stable across reruns/resume). */
  def docId(url: String): Long = hashString("doc:" + url)

  /** Per-char ASCII folds for the Latin accent range (0x80..0x17F),
    * precomputed once via the reference fold so the two paths cannot
    * drift. Entries whose fold is not pure ASCII force the slow path. */
  private val FoldTable: Array[String] =
    Array.tabulate(0x180)(c =>
      if (c < 0x80) null else TextFunctions.asciiFold(c.toChar.toString))

  /** Token hashes of the ASCII-folded lowercased text — the hot per-doc
    * kernel (runs twice per doc: df pass + sketch pass). ASCII and
    * Latin-accent inputs (the overwhelming common case) take a fused
    * single pass: per-char fold/lowercase/boundary-detect with the FNV-1a
    * hash built incrementally — zero intermediate strings, token arrays,
    * or byte buffers. Anything outside the fold table falls back to the
    * reference composition (equality property-tested in PropertySpec). */
  def tokenHashesOf(text: String): Array[Long] = {
    if (text == null) return Array.empty
    val out = Array.newBuilder[Long] // primitive builder — no boxing
    var h = 0xcbf29ce484222325L
    var inTok = false
    val n = text.length

    // FNV-1a step for one already-folded char; returns false if the char
    // is outside the fused path's competence (forces the slow fallback)
    def step(c0: Char): Boolean = {
      val c = if (c0 >= 'A' && c0 <= 'Z') (c0 + 32).toChar else c0
      if (c >= 0x80) return false
      val alnum = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
      if (alnum) {
        // ASCII char == its single UTF-8 byte
        h ^= c & 0xffL
        h *= 0x100000001b3L
        inTok = true
      } else if (inTok) {
        out += mix64(h)
        h = 0xcbf29ce484222325L
        inTok = false
      }
      true
    }

    var i = 0
    while (i <= n) {
      val c = if (i < n) text.charAt(i) else ' '
      if (c < 0x80) {
        step(c)
      } else if (c < 0x180) {
        val folded = FoldTable(c)
        var j = 0
        while (j < folded.length) {
          if (!step(folded.charAt(j))) return tokenHashesSlow(text)
          j += 1
        }
      } else return tokenHashesSlow(text)
      i += 1
    }
    out.result()
  }

  /** Reference composition (fold → lowercase-tokenize → hash), the
    * semantics [[tokenHashesOf]]'s fused path must reproduce. */
  private[graft] def tokenHashesSlow(text: String): Array[Long] =
    TextFunctions.wordTokens(TextFunctions.asciiFold(text)).map(hashString)

  /** The per-document sketch of both ER forms, batch [[features]] and
    * `StreamingDedup.blockedDocs`: normalized title, sorted distinct token
    * hashes with counts, and MinHash signature, from ONE tokenization. */
  private[graft] final case class Sketch(
      normTitle: String, tokenHashes: Array[Long], counts: Array[Int], minhash: Array[Long])

  private[graft] def sketch(d: ExtractedDoc): Sketch = {
    val raw = tokenHashesOf(d.text)
    val (tokenHashes, counts) = distinctCounts(raw)
    // shingles roll over the raw token order, not the sorted one
    val shingles = Similarity.shingleHashesFromTokenHashes(raw, ShingleSize)
    Sketch(TextFunctions.cleanEntity(d.title), tokenHashes, counts,
      Similarity.minHashSignature(shingles, NumMinHashes))
  }

  /** The sorted distinct values of `xs` and how often each occurs: one
    * primitive sort of a copy, then one run-length pass. */
  private[graft] def distinctCounts(xs: Array[Long]): (Array[Long], Array[Int]) = {
    val sorted = xs.clone()
    java.util.Arrays.sort(sorted) // primitive sort — no boxing
    val distinct = Array.newBuilder[Long]
    val counts = Array.newBuilder[Int]
    var i = 0
    while (i < sorted.length) {
      var j = i
      while (j < sorted.length && sorted(j) == sorted(i)) j += 1
      distinct += sorted(i)
      counts += j - i
      i = j
    }
    (distinct.result(), counts.result())
  }

  /** A document's distinct blocking keys: title key (if any), LSH band keys. */
  private[graft] def blockKeys(normTitle: String, minhash: Array[Long]): Seq[Long] = {
    val titleKey = if (normTitle.nonEmpty) Seq(hashString("title:" + normTitle)) else Nil
    (titleKey ++ Similarity.lshBandKeys(minhash, RowsPerBand)).distinct
  }

  /** Full feature table from extracted docs.
    *
    * TF-IDF layout for scale: term frequency is the [[sketch]]'s counts
    * (zero shuffle); document frequency is ONE partial-aggregated
    * groupBy over distinct per-doc tokens, truncated to the `maxDfTokens`
    * most frequent tokens and broadcast. Tokens outside the broadcast are
    * by construction the RAREST ones and take the df=1 default — the same
    * weight a full join would give them up to the truncation, which only
    * engages when corpus vocabulary exceeds the broadcast budget.
    *
    * Truncation error bound: a dropped token has true df ≤ the K-th df, so
    * its weight is over-stated by at most log((n+1)/2); dropped tokens are
    * the Zipf tail, so the cosine perturbation is bounded by the tail's
    * share of vector mass — negligible while K covers the head. The
    * truncated-token count is reported via `onTruncation` (the traced
    * benchmark records it as `idf_truncated`) and stderr.
    *
    * `docs` is scanned twice (a cheap tokenize-only df pass, then the full
    * sketching pass) — callers should hand in a cached or snapshot-backed
    * Dataset; nothing is persisted internally. */
  def features(
      spark: SparkSession,
      docs: Dataset[ExtractedDoc],
      maxDfTokens: Int = 1 << 22,
      onTruncation: Long => Unit = _ => ()): Dataset[DocFeatures] = {
    import spark.implicits._
    // document frequency over distinct per-doc tokens: one shuffle. A
    // sentinel token counted once per doc rides along, so the corpus count
    // n needs no second job. The (doc × distinct-token) stream is
    // pre-reduced per partition in a primitive open-addressing map BEFORE
    // any row encoding — the agg input shrinks from ~150 rows/doc to
    // ~vocab-per-partition rows, cutting the dominant row-encode +
    // hash-probe memory traffic of the df pass (the stage that showed the
    // worst many-core bandwidth inflation).
    val SentinelToken = Long.MinValue
    val grouped = docs
      .mapPartitions { it =>
        val m = new graft.functions.LongCountMap(1 << 14)
        it.foreach { d =>
          val (distinct, _) = distinctCounts(tokenHashesOf(d.text))
          var i = 0
          while (i < distinct.length) { m.add(distinct(i), 1L); i += 1 }
          m.add(SentinelToken, 1L)
        }
        m.iterator
      }
      .toDF("token", "cnt")
      .groupBy("token").agg(sum("cnt").as("df"))
      // singletons never need to ship: a df=1 row yields exactly the same
      // weight as an absent row (both sides of the lookup compute
      // tf·log((n+1)/2)), and hapax legomena are ~half of any natural
      // vocabulary — dropping them halves the collect + broadcast + search
      // table with zero semantic change. The sentinel (df = n) survives
      // whenever n ≥ 2; the n = 1 corner keeps it via the OR.
      .where(col("df") >= 2 || col("token") === SentinelToken)
    // Common case: the vocabulary fits the broadcast budget — plain
    // collect, NO global sort (CollectLimit probes for K+1 rows and stops).
    // Overflow: global top-K by df keeps the head; the sentinel has df = n
    // (no token exceeds it) and MinValue tiebreak, so it always survives.
    val probe = grouped.limit(maxDfTokens + 1).collect()
    val dfRows =
      if (probe.length <= maxDfTokens) { onTruncation(0L); probe }
      else {
        val total = grouped.count()
        val truncated = total - maxDfTokens
        System.err.println(
          s"[graft] IDF table truncated: $truncated of $total tokens beyond top-$maxDfTokens take df=1")
        onTruncation(truncated)
        grouped.orderBy(col("df").desc, col("token")).limit(maxDfTokens).collect()
      }
    val n = dfRows.find(_.getLong(0) == SentinelToken)
      .map(_.getLong(1).toDouble).getOrElse(0.0)
    val real = dfRows.filter(_.getLong(0) != SentinelToken)
    val dfTokens = new Array[Long](real.length)
    val dfCounts = new Array[Double](real.length)
    real.zipWithIndex.foreach { case (r, i) =>
      dfTokens(i) = r.getLong(0); dfCounts(i) = r.getLong(1).toDouble
    }
    // sort by token for binary search
    val order = dfTokens.indices.sortBy(dfTokens)
    val sortedTokens = order.map(dfTokens).toArray
    val sortedDfs = order.map(dfCounts).toArray
    val dfB = spark.sparkContext.broadcast((sortedTokens, sortedDfs))

    docs.map { d =>
      val s = sketch(d)
      val (toks, dfs) = dfB.value
      val weights = new Array[Float](s.tokenHashes.length)
      var i = 0
      while (i < weights.length) {
        val idx = java.util.Arrays.binarySearch(toks, s.tokenHashes(i))
        val df = if (idx >= 0) dfs(idx) else 1.0
        weights(i) = (s.counts(i) * math.log((n + 1.0) / (df + 1.0))).toFloat
        i += 1
      }
      DocFeatures(d.id, d.url, s.normTitle, s.tokenHashes, weights, s.minhash)
    }
  }

  /** Blocking keys per doc: title key + LSH band keys. */
  def blockEntries(spark: SparkSession, feats: Dataset[DocFeatures]): Dataset[BlockEntry] = {
    import spark.implicits._
    feats.flatMap(f => blockKeys(f.normTitle, f.minhash).map(k => BlockEntry(k, f.id)))
  }

  /** Candidate-pair generation handle: the pairs and a hot-block counter
    * (the keys whose block is over the cap, recomputed from the entries:
    * one job when forced). `release` holds nothing and does nothing; it is
    * kept only so the perfbench ER harness compiles unchanged. */
  final case class CandidatePairGen(
      pairs: Dataset[CandidatePair],
      hotBlocks: () => Long,
      release: () => Unit)

  /** The one shared-key pair operator: (src, dst, shared) with src < dst
    * and `shared` the number of keys the two ids have in common.
    *
    * One hash shuffle groups the (key, id) entries by key; a block of 2 to
    * `maxBlock` ids emits its pairs, a larger one (the stop-block rule,
    * the standard stop-word analog for blocking) emits nothing and is
    * never buffered: at most `maxBlock + 1` ids are read before the rest
    * of the block is drained. One aggregate by (src, dst) then counts the
    * shared keys. Within-block work is O(|block|²) bounded by `maxBlock`,
    * and the aggregate hash-partitions by the pair, so whatever consumes
    * the pairs is skew-free regardless of block sizes. */
  def sharedKeyPairs(
      spark: SparkSession, entries: Dataset[BlockEntry], maxBlock: Int): DataFrame = {
    import spark.implicits._
    entries
      .groupByKey(_.key)
      .flatMapGroups { (_, it) =>
        val block = Array.newBuilder[Long]
        while (block.length <= maxBlock && it.hasNext) block += it.next().id
        it.foreach(_ => ())
        val ids = block.result()
        if (ids.length < 2 || ids.length > maxBlock) Iterator.empty
        else {
          java.util.Arrays.sort(ids)
          for {
            i <- ids.indices.iterator
            j <- (i + 1) until ids.length
            if ids(i) < ids(j)
          } yield CandidatePair(ids(i), ids(j))
        }
      }
      .groupBy("src", "dst").agg(count(lit(1)).as("shared"))
  }

  /** Candidate pairs from block co-membership: [[sharedKeyPairs]] under
    * the `maxBlockSize` cap, each pair once however many keys it shares. */
  def candidatePairs(
      spark: SparkSession,
      entries: Dataset[BlockEntry],
      maxBlockSize: Int = DefaultMaxBlockSize): CandidatePairGen = {
    import spark.implicits._
    val pairs = sharedKeyPairs(spark, entries, maxBlockSize)
      .select("src", "dst").as[CandidatePair]
    val hotBlocks = () =>
      entries.groupBy("key").count().where(col("count") > maxBlockSize).count()
    CandidatePairGen(pairs, hotBlocks, () => ())
  }
}
