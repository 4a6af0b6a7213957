package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite {

  private val names = Seq("id", "name", "score", "tags")
  private val rows = Seq(
    Row(1L, "alpha", 0.1 + 0.2, Seq("x", "y")),
    Row(2L, "beta", 1.0 / 3, Seq.empty[String]),
    Row(3L, null, -0.0, Seq("z")),
    Row(3L, null, -0.0, Seq("z")))

  test("row order does not change the fingerprint") {
    val a = Fingerprint.ofRows(names, rows.iterator)
    Seq(rows.reverse, rows.sortBy(_.getString(1) == null), rows.tail :+ rows.head).foreach { p =>
      assert(Fingerprint.ofRows(names, p.iterator) == a)
    }
  }

  test("column order does not change the fingerprint; names decide") {
    val swapped = rows.map(r => Row(r.get(1), r.get(0), r.get(2), r.get(3)))
    assert(Fingerprint.ofRows(Seq("name", "id", "score", "tags"), swapped.iterator) ==
      Fingerprint.ofRows(names, rows.iterator))
  }

  test("doubles are compared at 6 significant digits") {
    val exact = rows.updated(0, Row(1L, "alpha", 0.3, Seq("x", "y")))
    assert(Fingerprint.ofRows(names, exact.iterator) == Fingerprint.ofRows(names, rows.iterator))
    val off = rows.updated(0, Row(1L, "alpha", 0.30001, Seq("x", "y")))
    assert(Fingerprint.ofRows(names, off.iterator) != Fingerprint.ofRows(names, rows.iterator))
  }

  test("duplicate rows and row count both count") {
    val fp = Fingerprint.ofRows(names, rows.iterator)
    assert(fp.rows == 4)
    assert(Fingerprint.ofRows(names, rows.distinct.iterator) != fp)
  }

  test("canonical text of values") {
    assert(Fingerprint.value(1234567.0) == "1234570")
    assert(Fingerprint.value(0.000123456789) == "0.000123457")
    assert(Fingerprint.value(-0.0) == "0")
    assert(Fingerprint.value(2.5f) == "2.5")
    assert(Fingerprint.value(new java.math.BigDecimal("10.500")) == "10.5")
    assert(Fingerprint.value(null) == "\u0000")
    assert(Fingerprint.value(java.sql.Date.valueOf("1970-01-11")) == "10")
    assert(Fingerprint.value(Row(1, "a")) == "{1\u001fa}")
    assert(Fingerprint.value(Map("b" -> 2, "a" -> 1)) == "<a=1,b=2>")
  }
}
