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
  def rowCount(spark: SparkSession, dir: String): Long = {
    try {
      val p = new Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val files = fs.listStatus(p).filter { st =>
        val n = st.getPath.getName
        st.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }
      if (files.isEmpty) spark.read.parquet(dir).count()
      else files.map { st =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(st, spark.sparkContext.hadoopConfiguration)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try reader.getRecordCount
        finally reader.close()
      }.sum
    } catch {
      case e: Exception =>
        System.err.println(
          s"[graft] footer row count failed for $dir (${e.getMessage}); " +
            "falling back to a count scan")
        spark.read.parquet(dir).count()
    }
  }
}
