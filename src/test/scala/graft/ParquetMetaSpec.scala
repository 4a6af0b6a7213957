package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.util.ParquetMeta

/** Footer row counts, total and per data file, for flat and nested layouts. */
class ParquetMetaSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private def table(partitionBy: Seq[String]): String = {
    val dir = Files.createTempDirectory("parquet-meta-").toString + "/t"
    spark.range(0L, 1000L).selectExpr("id", "id % 3 AS part")
      .write.partitionBy(partitionBy: _*).parquet(dir)
    dir
  }

  /** The data files the writer left under `dir`, at any depth. */
  private def dataFiles(dir: String): Int = {
    val all = Files.walk(Paths.get(dir))
    try all.iterator().asScala.count { f =>
      val n = f.getFileName.toString
      Files.isRegularFile(f) && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }
    finally all.close()
  }

  private def assertPerFile(dir: String): Unit = {
    val perFile = ParquetMeta.fileRowCounts(spark, dir)
    assert(perFile.length == dataFiles(dir))
    assert(perFile.map(_._1).distinct.length == perFile.length)
    assert(perFile.map(_._2).sum == 1000L)
  }

  test("flat table: footer count equals the row count") {
    val dir = table(Nil)
    assert(ParquetMeta.rowCount(spark, dir) == 1000L)
    assertPerFile(dir)
  }

  test("partitioned table: no flat file, still the exact row count") {
    val dir = table(Seq("part"))
    assert(ParquetMeta.rowCount(spark, dir) == 1000L)
    assertPerFile(dir)
  }
}
