package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.MentionPipeline
import graft.util.Materialize

/** The one materialization module: a release frees what it holds and only
  * once, the BFS frontier keeps only the layer it returns, and no other
  * source file checkpoints, persists or unpersists. */
class MaterializeSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("Held.release() twice leaves no new persisted RDD, for every kind") {
    import spark.implicits._
    val ds = spark.range(0L, 100L, 1L, 4).toDF("id")
    val rdd = spark.sparkContext.parallelize(0 until 100, 4)
    val kinds = Seq(
      "checkpoint(Dataset)" -> (() => Materialize.checkpoint(ds)),
      "checkpoint(RDD)" -> (() => Materialize.checkpoint(rdd.map(_ + 1))),
      "cache(Dataset)" -> (() => Materialize.cache(ds.select($"id" + 1))),
      "cache(RDD)" -> (() => Materialize.cache(rdd.map(_ + 2))))
    for ((kind, take) <- kinds) {
      val before = persisted
      val held = take()
      held.value match {
        case r: org.apache.spark.rdd.RDD[_] => r.count()
        case d: org.apache.spark.sql.Dataset[_] => d.count()
      }
      assert((persisted -- before).size == 1, s"$kind holds one RDD")
      held.release()
      assert(persisted -- before == Set.empty, s"$kind: the first release frees it")
      held.release()
      assert(persisted -- before == Set.empty, s"$kind: the second release is a no-op")
    }
  }

  test("processSeedPages(depth = 2) keeps only the layer it returns") {
    val pages = Seq("made.json", "koning.json", "tweede.json", "parade_small_page.json")
      .map(Fixtures.parsePage)
    import spark.implicits._
    val corpus = spark.createDataset(pages)
    val seeds = spark.createDataset(pages.filter(_.title == "Parade"))
    val before = persisted
    val out = MentionPipeline.processSeedPages(spark, corpus, Map.empty, seeds, depth = 2)
    val left = persisted -- before
    val returned = out.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd.id }
    assert(left.size == 1 && returned.toSet == left,
      s"left $left persisted, the returned layer is $returned")
    assert(out.collect().map(_.documentInfo.title).toSet == Set("Parade",
      "Tweede Vryheidsoorlog", "Koning Edward VII-standbeeld", "Made up page"))
  }

  test("only graft/util/Materialize.scala checkpoints, persists or unpersists") {
    val root = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(root), s"run from the repository root: ${root.toAbsolutePath}")
    val owner = root.resolve(Paths.get("graft", "util", "Materialize.scala"))
    val calls = Seq("localCheckpoint(", ".persist(", ".unpersist(", ".cache()")
    def callers(file: Path): Seq[String] =
      Files.readAllLines(file).asScala.zipWithIndex.collect {
        case (line, i) if !isComment(line) && calls.exists(line.contains) =>
          s"$file:${i + 1}: ${line.trim}"
      }.toSeq
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(callers(owner).nonEmpty, "the scan finds the owner's own calls")
    val strays = files.filter(_ != owner).flatMap(callers)
    assert(strays.isEmpty, strays.mkString("materialized outside Materialize:\n", "\n", ""))
  }

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }
}
