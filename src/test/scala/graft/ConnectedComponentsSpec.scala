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
    ConnectedComponents.assignBounded(spark, edgeDs, vertices, 30, dedupEdges, bound)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def check(n: Int, edges: Seq[(Long, Long)], dedupEdges: Boolean = true): Unit = {
    val oracle = unionFindOracle(n, edges)
    for ((path, bound) <- Seq("driver" -> Driver, "rounds" -> Rounds))
      assert(assigned(n, edges, bound, dedupEdges) == oracle, s"$path path")
  }

  /** Frees the storage an [[ConnectedComponents.assign]] result owns. */
  private def unpersistNew(preexisting: Set[Int]): Unit =
    (spark.sparkContext.getPersistentRDDs.keySet -- preexisting).foreach(id =>
      spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(true)))

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
    val preexisting = spark.sparkContext.getPersistentRDDs.keySet
    val (managed, release) =
      ConnectedComponents.assignManaged(spark, edges, vertices)
    val got = managed.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    release(); release() // idempotent
    val leakedManaged = spark.sparkContext.getPersistentRDDs.keySet -- preexisting
    assert(leakedManaged.isEmpty,
      s"assignManaged release() left persisted RDDs: $leakedManaged")
    // assign(): identical values; at most the returned assignment's own
    // eager localCheckpoint survives (after rounds; the driver path that
    // this size takes leaves none — both pinned by the path tests below)
    val viaAssign = ConnectedComponents.assign(spark, edges, vertices)
    val gotAssign = viaAssign.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == gotAssign)
    val leftover = spark.sparkContext.getPersistentRDDs.keySet -- preexisting
    assert(leftover.size <= 1,
      s"assign() left round-state blocks beyond its own checkpoint: $leftover")
    leftover.foreach(id =>
      spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(true)))
  }

  test("dedupEdges=false is exact when input edges are unique") {
    // the pipeline's contract: unique (src,dst) edges may skip the
    // defensive distinct without changing the assignment
    check(8, Seq((0L, 1L), (1L, 2L), (3L, 4L), (6L, 5L)), dedupEdges = false)
  }

  test("the edge bound picks the path: driver at the bound, rounds one above") {
    import spark.implicits._
    val bound = 5L
    for ((nEdges, onDriver) <- Seq(bound -> true, (bound + 1) -> false)) {
      val edges = (0L until nEdges).map(i => (i, i + 1))
      val vertices = (0L to nEdges + 2).toDF("id")
      val a = ConnectedComponents.assignWithin(
        spark, edges.map { case (s, d) => Edge(s, d) }.toDS(), vertices, 30,
        dedupEdges = true, driverEdgeBound = bound)
      try {
        assert(a.onDriver == onDriver, s"$nEdges edges under bound $bound")
        val got = a.frame.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == unionFindOracle(nEdges.toInt + 3, edges))
      } finally a.release()
    }
  }

  test("the driver path leaves no persisted RDD, even after assign") {
    import spark.implicits._
    val edges = Seq(Edge(0L, 1L), Edge(1L, 2L), Edge(5L, 6L)).toDS()
    val vertices = (0L until 8L).toDF("id")
    val preexisting = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val a = ConnectedComponents.assignWithin(spark, edges, vertices, 30, true, Driver)
    assert(a.onDriver)
    val managed = a.frame.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    a.release(); a.release() // idempotent
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == preexisting)
    val viaAssign = ConnectedComponents.assignBounded(spark, edges, vertices, 30, true, Driver)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaAssign == managed)
    val leftover = spark.sparkContext.getPersistentRDDs.keySet.toSet -- preexisting
    unpersistNew(preexisting)
    assert(leftover.isEmpty, s"assign() on the driver path left persisted RDDs: $leftover")
  }

  test("the rounds path: release frees every round block, assign keeps only its own") {
    import spark.implicits._
    val edges = Seq(Edge(0L, 1L), Edge(1L, 2L), Edge(5L, 6L)).toDS()
    val vertices = (0L until 8L).toDF("id")
    val preexisting = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val a = ConnectedComponents.assignWithin(spark, edges, vertices, 30, true, Rounds)
    assert(!a.onDriver)
    val managed = a.frame.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    a.release(); a.release()
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == preexisting)
    val viaAssign = ConnectedComponents.assignBounded(spark, edges, vertices, 30, true, Rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaAssign == managed)
    val leftover = spark.sparkContext.getPersistentRDDs.keySet.toSet -- preexisting
    unpersistNew(preexisting)
    assert(leftover.size == 1, s"assign() after rounds: $leftover")
  }
}
