package perfbench

/** Pairwise clustering quality against generator truth, computed from the
  * (true cluster, predicted cluster) contingency table.
  *
  * Every pair of documents counts: a pair is a true positive when both
  * documents share a true cluster and a predicted cluster, a false positive
  * when they share only the predicted one (a merge across clusters), and a
  * false negative when they share only the true one (a split, or a document
  * missing from the output, which is given a predicted cluster of its own).
  */
object Quality {

  final case class Report(
      tp: Long, fp: Long, fn: Long, f1: Double,
      trueClusters: Long, partitionErrors: Long, largestPredicted: Long)

  private def pairs(n: Long): Long = n * (n - 1) / 2

  /** @param cells one entry per non-empty contingency cell:
    *   (true cluster, predicted cluster, documents in both) */
  def report(cells: Seq[(Long, Long, Long)]): Report = {
    val trueSize = cells.groupMapReduce(_._1)(_._3)(_ + _)
    val predSize = cells.groupMapReduce(_._2)(_._3)(_ + _)
    val tp = cells.iterator.map(c => pairs(c._3)).sum
    val truePairs = trueSize.valuesIterator.map(pairs).sum
    val predPairs = predSize.valuesIterator.map(pairs).sum
    val fp = predPairs - tp
    val fn = truePairs - tp
    val f1 = if (tp + fp + fn == 0) 1.0 else 2.0 * tp / (2.0 * tp + fp + fn)
    // a true cluster is reproduced exactly iff one cell holds all of it and
    // that predicted cluster holds nothing else
    val exact = cells.count(c => c._3 == trueSize(c._1) && c._3 == predSize(c._2))
    Report(tp, fp, fn, f1, trueSize.size.toLong, trueSize.size.toLong - exact,
      if (predSize.isEmpty) 0L else predSize.valuesIterator.max)
  }
}
