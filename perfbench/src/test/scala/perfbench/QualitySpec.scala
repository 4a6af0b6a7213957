package perfbench

import org.scalatest.funsuite.AnyFunSuite

class QualitySpec extends AnyFunSuite {

  test("an exact partition scores F1 = 1 with no partition errors") {
    // true {a,b,c} {d}; predicted the same
    val r = Quality.report(Seq((1L, 10L, 3L), (2L, 20L, 1L)))
    assert((r.tp, r.fp, r.fn) == ((3L, 0L, 0L)))
    assert(r.f1 == 1.0 && r.partitionErrors == 0 && r.largestPredicted == 3)
  }

  test("a merge across clusters counts every cross pair as a false positive") {
    // true {a,b} {c,d}; predicted {a,b,c,d}
    val r = Quality.report(Seq((1L, 7L, 2L), (2L, 7L, 2L)))
    assert((r.tp, r.fp, r.fn) == ((2L, 4L, 0L)))
    assert(r.f1 == 0.5 && r.partitionErrors == 2 && r.largestPredicted == 4)
  }

  test("a document missing from the output is a singleton: its pairs are false negatives") {
    // true {a,b,c}; predicted {a,b}, c missing (a cluster of its own)
    val r = Quality.report(Seq((1L, 7L, 2L), (1L, 8L, 1L)))
    assert((r.tp, r.fp, r.fn) == ((1L, 0L, 2L)))
    assert(r.f1 == 0.5 && r.partitionErrors == 1)
  }

  test("a split and a merge in one table") {
    // true {a,b,c} {d,e}; predicted {a,b} {c,d,e}
    val r = Quality.report(Seq((1L, 7L, 2L), (1L, 8L, 1L), (2L, 8L, 2L)))
    // tp: ab + de; fp: cd, ce; fn: ac, bc
    assert((r.tp, r.fp, r.fn) == ((2L, 2L, 2L)))
    assert(r.f1 == 0.5 && r.partitionErrors == 2 && r.trueClusters == 2)
  }

  test("all singletons and no documents both score 1") {
    assert(Quality.report(Seq((1L, 1L, 1L), (2L, 2L, 1L))).f1 == 1.0)
    assert(Quality.report(Nil).f1 == 1.0)
  }
}
