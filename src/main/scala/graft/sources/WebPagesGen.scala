package graft.sources

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.functions.Hashing._
import graft.functions.{HtmlExtract, TextFunctions}
import graft.model.WebPage

/** Deterministic synthetic Common-Crawl-style corpus with planted duplicate
  * clusters and their ground truth (FIXTURES.md §1-2).
  *
  * Every page is a pure function of (seed, clusterId, variantId): the
  * generator is a distributed `spark.range` map with counter-based hashing
  * — no sequential RNG, no wall clock — so any scale regenerates
  * identically and resume replays byte-identical bytes (north rule).
  *
  * Planted structure:
  *  - clusters of 1..6 url-variants of the same underlying document: html
  *    re-formatting (extracted-text-identical), case flips, diacritic
  *    swaps, small word edits, mirror-domain boilerplate swaps — the same
  *    variant families the reference resolves via redirect/normalization
  *    (/root/reference/src/lookups.py:27-34, db.py:12-13);
  *  - hot domains: a Zipf-ish skew concentrates pages on a few domains that
  *    share heavy boilerplate (hot-block stress for the salting path);
  *  - title-collision negatives: some clusters reuse another cluster's
  *    title verbatim over a different body — non-duplicate pairs that
  *    share the title blocking key (precision stress).
  */
object WebPagesGen {

  final case class GenDoc(
      clusterId: Long,
      variantId: Int,
      page: WebPage)

  val Seed = 42L
  private val NumDomains = 64
  private val Vowels = "aeiou"
  private val Consonants = "bcdfghklmnprstvwz"

  /** Deterministic pseudo-word: 2-4 syllables from a fixed alphabet. */
  def word(idx: Long): String = {
    val syllables = 2 + uniformInt(3, Seed, 1L, idx)
    val sb = new StringBuilder
    var s = 0
    while (s < syllables) {
      sb += Consonants.charAt(uniformInt(Consonants.length, Seed, 2L, idx, s))
      sb += Vowels.charAt(uniformInt(Vowels.length, Seed, 3L, idx, s))
      s += 1
    }
    sb.toString
  }

  private val VocabSize = 4096L
  private def pickWord(parts: Long*): String =
    word(hash64(parts: _*) & (VocabSize - 1))

  /** Cluster sizes: mostly singletons, tail up to 6 variants. */
  def clusterSize(c: Long): Int = {
    val u = uniform(Seed, 10L, c)
    if (u < 0.55) 1
    else if (u < 0.75) 2
    else if (u < 0.90) 3
    else if (u < 0.97) 4
    else 6
  }

  /** ~10% of clusters (c>0) reuse the previous cluster's title words over a
    * different body: shared-block-key hard negatives. */
  def hasTitleCollision(c: Long): Boolean = c > 0 && uniform(Seed, 11L, c) < 0.10

  /** Follow collision chains to their root so that c and c-1 share title
    * words even when c-1 itself collides with c-2. */
  private def titleSourceCluster(c0: Long): Long = {
    var c = c0
    while (hasTitleCollision(c)) c -= 1
    c
  }

  def titleWords(c: Long): Seq[String] = {
    val src = titleSourceCluster(c)
    val n = 3 + uniformInt(3, Seed, 20L, src)
    (0 until n).map(k => pickWord(Seed, 21L, src, k))
  }

  /** Zipf-ish domain assignment: low domain ids are hot. */
  def domainOf(c: Long, variant: Int): Int = {
    val base = math.min(
      (math.pow(uniform(Seed, 30L, c), 2.5) * NumDomains).toInt,
      NumDomains - 1)
    // mirror-domain variants move to a different (also skewed) domain
    if (variant % 3 == 2) (base + 7 + variant) % NumDomains else base
  }

  def domainName(d: Int): String = s"www.${word(100000L + d)}$d.example"

  /** Shared per-domain boilerplate (nav + footer), 24 words each. */
  def boilerplate(d: Int): (String, String) = {
    val nav = (0 until 24).map(k => pickWord(Seed, 40L, d.toLong, k)).mkString(" ")
    val foot = (0 until 24).map(k => pickWord(Seed, 41L, d.toLong, k)).mkString(" ")
    (nav, foot)
  }

  def bodySentences(c: Long): Seq[Seq[String]] = {
    val nSent = 6 + uniformInt(10, Seed, 50L, c)
    (0 until nSent).map { s =>
      val nWords = 8 + uniformInt(12, Seed, 51L, c, s)
      (0 until nWords).map(k => pickWord(Seed, 52L, c, s, k))
    }
  }

  private val DiacriticMap =
    Map('a' -> 'à', 'e' -> 'é', 'o' -> 'ö', 'u' -> 'ü', 'i' -> 'í')

  /** Variant transformations. Variant 0 is the base document. All variants
    * keep the same title tokens modulo case/diacritics (so the normalized
    * title block key is shared) and >=90% of body tokens. */
  def variantWord(w: String, c: Long, v: Int, pos: Long): String = {
    if (v == 0) return w
    val mode = uniformInt(10, Seed, 60L, c, v)
    val r = uniform(Seed, 61L, c, v, pos)
    mode match {
      case 0 | 1 => // case flips on ~20% of words
        if (r < 0.2) w.toUpperCase else w
      case 2 | 3 => // diacritic swap on ~25% of words (fold-range only)
        if (r < 0.25) w.map(ch => DiacriticMap.getOrElse(ch, ch)) else w
      case 4 => // sprinkle TitleCase
        if (r < 0.3) TextFunctions.upperFirst(w) else w
      case _ => w // formatting-only / mirror variants: text identical
    }
  }

  /** ~8% of body words dropped in "word edit" variants (mode 5). */
  private def keepBodyWord(c: Long, v: Int, pos: Long): Boolean = {
    if (v == 0) return true
    val mode = uniformInt(10, Seed, 60L, c, v)
    mode != 5 || uniform(Seed, 62L, c, v, pos) >= 0.08
  }

  def urlOf(c: Long, v: Int): String = {
    val d = domainOf(c, v)
    val slug = titleWords(c).mkString("-").toLowerCase
    val suffix = v match {
      case 0 => ""
      case 1 => "?ref=mirror"
      case 2 => "/amp"
      case 3 => "-v2"
      case _ => s"?v=$v"
    }
    s"https://${domainName(d)}/$slug-$c$suffix"
  }

  /** Build one page — pure function of (clusterId, variantId). */
  def genPage(c: Long, v: Int): GenDoc = {
    val d = domainOf(c, v)
    val (nav, foot) = boilerplate(d)
    val title = titleWords(c).zipWithIndex
      .map { case (w, i) => variantWord(w, c, v, 1000L + i) }
      .map(TextFunctions.upperFirst).mkString(" ")
    val sentences = bodySentences(c).zipWithIndex.map { case (sent, si) =>
      sent.zipWithIndex.flatMap { case (w, wi) =>
        val pos = si.toLong * 64 + wi
        if (keepBodyWord(c, v, pos)) Some(variantWord(w, c, v, pos)) else None
      }.mkString(" ").capitalize + "."
    }
    // one outlink per page: anchor to a neighboring cluster's base url with
    // that cluster's title as anchor text (surface-form extraction input)
    val targetCluster = math.max(0L, c - 1 - uniformInt(5, Seed, 70L, c))
    val anchorHtml =
      s"""<a href="${urlOf(targetCluster, 0)}">${titleWords(targetCluster).map(TextFunctions.upperFirst).mkString(" ")}</a>"""
    val paras = sentences.grouped(3)
      .map(g => s"<p>${g.mkString(" ")}</p>")
      .mkString(if (v % 2 == 1) "\n  " else "")
    val html =
      s"""<html><head><title>$title</title><style>.x{color:red}</style></head>
<body><nav>$nav</nav><h1>$title</h1>
$paras
<p>See also $anchorHtml.</p>
<footer>$foot</footer><script>var t=1;</script></body></html>"""
    val htmlBytes = html.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val ts = new Timestamp(1700000000000L + (hash64(Seed, 80L, c, v) % 31536000000L).abs)
    val lang = if (uniform(Seed, 81L, c) < 0.9) "en" else "af"
    GenDoc(c, v, WebPage(
      url = urlOf(c, v),
      warc_ts = ts,
      html = htmlBytes,
      text = HtmlExtract.extractText(html),
      lang = lang))
  }

  /** The title blocking key cluster `c` plants (shared with `c - 1` on a
    * title collision): the ASCII-folded lowercase title (cleanEntity,
    * db.py:12-13 semantics). */
  def blockKeyOf(c: Long): String =
    TextFunctions.cleanEntity(titleWords(c).map(TextFunctions.upperFirst).mkString(" "))

  /** Generate `nClusters` clusters (≈2.05 docs/cluster on this size law).
    * @param numPartitions generator task width; 0 (default) inherits the
    *   session default parallelism. Callers generating a corpus far
    *   smaller than the session width should size this to the data (the
    *   usual one-partition-per-N-MB rule): the 307-doc catalog corpus
    *   under a 96-wide session otherwise runs EVERY downstream stage as
    *   96 near-empty tasks whose scheduling latency is pure serial floor.
    *   Content is a pure function of cluster id — partitioning never
    *   changes the generated rows. */
  def webpages(
      spark: SparkSession, nClusters: Long, numPartitions: Int = 0): Dataset[WebPage] = {
    import spark.implicits._
    val ids =
      if (numPartitions > 0) spark.range(0L, nClusters, 1L, numPartitions)
      else spark.range(nClusters)
    ids.flatMap { c =>
      (0 until clusterSize(c)).map(v => genPage(c, v).page)
    }
  }

  /** Ground truth (url, truth): every generated url with the planted
    * cluster it belongs to — the truth side of
    * `EntityResolution.quality`. */
  def truth(spark: SparkSession, nClusters: Long): DataFrame = {
    import spark.implicits._
    spark.range(nClusters).flatMap { c =>
      (0 until clusterSize(c)).map(v => (urlOf(c, v), c.longValue))
    }.toDF("url", "truth")
  }
}
