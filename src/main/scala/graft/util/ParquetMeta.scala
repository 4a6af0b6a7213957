package graft.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Parquet footer metadata reads — exact row counts without a scan job.
  * The same O(files) driver-side metadata pass SnapshotStore's manifests
  * use (and an Iceberg snapshot commit does); at 100 TB a row count for
  * JOB SIZING (partitioner width, not query results) should come from
  * the table metadata, not a full pass over the data. */
object ParquetMeta {

  /** Exact total row count of a parquet table from its file footers.
    * Falls back to a distributed `count()` if any footer is unreadable —
    * sizing must never fail a query over a metadata hiccup — and when the
    * directory holds no flat `*.parquet` file (a partitioned or nested
    * table), whose rows the footer listing cannot see. */
  def rowCount(spark: SparkSession, dir: String): Long =
    fileRowCounts(spark, dir).map(_._2).sum

  /** Exact (file, rows) pairs of a parquet table, one per data file, from
    * the footers; with the same fallback as [[rowCount]], which then counts
    * rows per `input_file_name`. */
  def fileRowCounts(spark: SparkSession, dir: String): Array[(String, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    try {
      val p = new Path(dir)
      val files = p.getFileSystem(conf).listStatus(p).filter { st =>
        val n = st.getPath.getName
        st.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }
      if (files.isEmpty) countScan(spark, dir)
      else files.map { st =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
        try (st.getPath.toString, reader.getRecordCount)
        finally reader.close()
      }
    } catch {
      case e: Exception =>
        System.err.println(
          s"[graft] footer row count failed for $dir (${e.getMessage}); " +
            "falling back to a count scan")
        countScan(spark, dir)
    }
  }

  private def countScan(spark: SparkSession, dir: String): Array[(String, Long)] = {
    import org.apache.spark.sql.functions.input_file_name
    spark.read.parquet(dir)
      .groupBy(input_file_name().as("file")).count()
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
  }
}
