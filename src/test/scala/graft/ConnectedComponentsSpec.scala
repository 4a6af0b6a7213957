package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Hashing
import graft.model.Edge
import graft.operators.ConnectedComponents

/** Connected components vs a local union-find oracle on seeded random
  * graphs (SURVEY §5 test plan). Every oracle case runs through both paths:
  * the driver-side union-find (an unbounded edge bound) and the
  * large-star/small-star rounds (a negative bound). */
class ConnectedComponentsSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private val Driver = Long.MaxValue
  private val Rounds = -1L

  private def unionFindOracle(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a.toInt); val rb = find(b.toInt)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // root = min id of component
    val byRoot = (0 until n).groupBy(find)
    byRoot.flatMap { case (_, members) =>
      val m = members.map(_.toLong).min
      members.map(v => v.toLong -> m)
    }
  }

  private def assigned(
      n: Int, edges: Seq[(Long, Long)], bound: Long, dedupEdges: Boolean = true)
      : Map[Long, Long] = {
    import spark.implicits._
    val edgeDs = edges.map { case (a, b) => Edge(a, b) }.toDS()
    val vertices = (0L until n.toLong).toDF("id")
    val a = ConnectedComponents.assignWithin(spark, edgeDs, vertices, 30, dedupEdges, bound)
    try a.value.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    finally a.release()
  }

  private def check(n: Int, edges: Seq[(Long, Long)], dedupEdges: Boolean = true): Unit = {
    val oracle = unionFindOracle(n, edges)
    for ((path, bound) <- Seq("driver" -> Driver, "rounds" -> Rounds))
      assert(assigned(n, edges, bound, dedupEdges) == oracle, s"$path path")
  }

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("empty graph: all singletons") { check(5, Nil) }

  test("single chain collapses to min id") {
    check(6, Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
  }

  test("two components + duplicate and reversed edges") {
    check(8, Seq((0L, 1L), (1L, 0L), (1L, 2L), (5L, 4L), (4L, 6L), (6L, 5L), (0L, 2L)))
  }

  test("star with high-degree hub") {
    check(40, (1L until 40L).map(i => (0L, i)))
  }

  test("seeded random graphs match union-find oracle") {
    for (trial <- 0 until 5) {
      val n = 60
      val nEdges = 30 + Hashing.uniformInt(50, 100L, trial)
      val edges = (0 until nEdges).map { e =>
        (Hashing.uniformInt(n, 101L, trial, e).toLong,
          Hashing.uniformInt(n, 102L, trial, e).toLong)
      }.filter { case (a, b) => a != b }
      check(n, edges)
    }
  }

  test("assignManaged matches assign, and release frees every round block") {
    import spark.implicits._
    val edges = Seq(Edge(0L, 1L), Edge(1L, 2L), Edge(5L, 6L)).toDS()
    val vertices = (0L until 8L).toDF("id")
    val preexisting = persisted
    val (managed, release) =
      ConnectedComponents.assignManaged(spark, edges, vertices)
    val got = managed.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    release(); release() // idempotent
    val leakedManaged = persisted -- preexisting
    assert(leakedManaged.isEmpty,
      s"assignManaged release() left persisted RDDs: $leakedManaged")
    assert(got == unionFindOracle(8, Seq((0L, 1L), (1L, 2L), (5L, 6L))))
  }

  test("dedupEdges=false is exact when input edges are unique") {
    // the pipeline's contract: unique (src,dst) edges may skip the
    // defensive distinct without changing the assignment
    check(8, Seq((0L, 1L), (1L, 2L), (3L, 4L), (6L, 5L)), dedupEdges = false)
  }

  test("the edge bound picks the path: driver at the bound, rounds one above") {
    import spark.implicits._
    val bound = 5L
    // the rounds path holds its final round until the release; the driver
    // path holds no RDD, only a broadcast
    for ((nEdges, heldRdds) <- Seq(bound -> 0, (bound + 1) -> 1)) {
      val edges = (0L until nEdges).map(i => (i, i + 1))
      val vertices = (0L to nEdges + 2).toDF("id")
      val preexisting = persisted
      val a = ConnectedComponents.assignWithin(
        spark, edges.map { case (s, d) => Edge(s, d) }.toDS(), vertices, 30,
        dedupEdges = true, driverEdgeBound = bound)
      try {
        assert((persisted -- preexisting).size == heldRdds, s"$nEdges edges under bound $bound")
        val got = a.value.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == unionFindOracle(nEdges.toInt + 3, edges))
      } finally a.release()
    }
  }

  test("the driver path leaves no persisted RDD, even after assign") {
    import spark.implicits._
    val edges = Seq(Edge(0L, 1L), Edge(1L, 2L), Edge(5L, 6L)).toDS()
    val vertices = (0L until 8L).toDF("id")
    val preexisting = persisted
    val a = ConnectedComponents.assignWithin(spark, edges, vertices, 30, true, Driver)
    assert(persisted == preexisting, "the driver path holds no RDD")
    val managed = a.value.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    a.release(); a.release() // idempotent
    assert(persisted == preexisting)
    assert(managed == unionFindOracle(8, Seq((0L, 1L), (1L, 2L), (5L, 6L))))
  }

  test("the rounds path: release frees every round block, assign keeps only its own") {
    import spark.implicits._
    val edges = Seq(Edge(0L, 1L), Edge(1L, 2L), Edge(5L, 6L)).toDS()
    val vertices = (0L until 8L).toDF("id")
    val preexisting = persisted
    val a = ConnectedComponents.assignWithin(spark, edges, vertices, 30, true, Rounds)
    val held = persisted -- preexisting
    assert(held.size == 1, s"the rounds path holds only its final round: $held")
    val managed = a.value.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    a.release(); a.release()
    assert(persisted == preexisting)
    assert(managed == unionFindOracle(8, Seq((0L, 1L), (1L, 2L), (5L, 6L))))
  }
}
