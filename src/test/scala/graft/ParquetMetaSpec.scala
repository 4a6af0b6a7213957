package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.util.ParquetMeta

/** Footer row counts against a count scan, for flat and nested layouts. */
class ParquetMetaSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private def table(partitionBy: Seq[String]): String = {
    val dir = Files.createTempDirectory("parquet-meta-").toString + "/t"
    spark.range(0L, 1000L).selectExpr("id", "id % 3 AS part")
      .write.partitionBy(partitionBy: _*).parquet(dir)
    dir
  }

  test("flat table: footer count equals the row count") {
    assert(ParquetMeta.rowCount(spark, table(Nil)) == 1000L)
  }

  test("partitioned table: no flat file, still the exact row count") {
    assert(ParquetMeta.rowCount(spark, table(Seq("part"))) == 1000L)
  }
}
