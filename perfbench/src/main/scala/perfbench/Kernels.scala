package perfbench

import graft.functions.{HtmlExtract, Similarity, TextFunctions}
import graft.operators.Blocking

/** Single-thread ns/op of the hot per-document and per-pair kernels over a
  * fixed sample of one workload's inputs. Each kernel runs a warm-up batch,
  * then five timed batches; the reported value is the median batch. */
object Kernels {

  private val BatchNs = 60L * 1000 * 1000

  /** Receives the sum of every kernel result, so the JIT cannot drop the
    * calls. */
  @volatile var blackhole = 0L

  /** @param docs (html, title) of each sampled document, in a fixed order;
    *   pairwise kernels compare neighbours in that order */
  def measure(docs: IndexedSeq[(String, String)]): Seq[(String, Double)] = {
    val texts = docs.map(d => HtmlExtract.extractText(d._1))
    val titles = docs.map(d => TextFunctions.cleanEntity(d._2))
    val tokens = texts.map(Blocking.tokenHashesOf)
    val shingles = tokens.map(Similarity.shingleHashesFromTokenHashes(_, Blocking.ShingleSize))
    val vectors = tokens.map { t =>
      val s = t.sorted
      val keys = s.distinct
      (keys, keys.map(k => s.count(_ == k).toFloat))
    }
    val n = docs.size
    var sink = 0L
    def time(body: Int => Long): Double = {
      def batch(): Double = {
        val t0 = System.nanoTime()
        var ops = 0L
        while (System.nanoTime() - t0 < BatchNs) {
          sink += body((ops % n).toInt)
          ops += 1
        }
        (System.nanoTime() - t0).toDouble / ops
      }
      batch()
      Stats.median(Seq.fill(5)(batch()))
    }
    val out = Seq(
      "functions.HtmlExtract.extractText.ns_per_op" ->
        time(i => HtmlExtract.extractText(docs(i)._1).length.toLong),
      "operators.Blocking.tokenHashesOf.ns_per_op" ->
        time(i => Blocking.tokenHashesOf(texts(i)).length.toLong),
      "functions.Similarity.minHashSignature.ns_per_op" ->
        time(i => Similarity.minHashSignature(shingles(i), Blocking.NumMinHashes)(0)),
      "functions.Similarity.sparseCosine.ns_per_op" ->
        time { i =>
          val (ka, wa) = vectors(i); val (kb, wb) = vectors((i + 1) % n)
          java.lang.Double.doubleToLongBits(Similarity.sparseCosine(ka, wa, kb, wb))
        },
      "functions.Similarity.jaroWinkler.ns_per_op" ->
        time(i => java.lang.Double.doubleToLongBits(
          Similarity.jaroWinkler(titles(i), titles((i + 1) % n)))),
      "functions.Similarity.levenshteinRatio.ns_per_op" ->
        time(i => java.lang.Double.doubleToLongBits(
          Similarity.levenshteinRatio(titles(i), titles((i + 1) % n)))))
    blackhole = sink
    out
  }
}
