package graft.util

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder of graft's mains and test suites: graft's
  * SQL extensions, Kryo, UTC, no UI, one shuffle and RDD width, and plain
  * (non-vectored) parquet reads. `graft.Verify` keeps its own builder as
  * the frozen correctness contract. */
object Sessions {

  def create(master: String, partitions: Int, appName: String = "graft"): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.functions.expressions.GraftExtensions)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.default.parallelism", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // The BENCH_r04 run died rc=1 when a Hadoop VECTORED parquet read
      // threw TimeoutException 40 min in (ParquetFileReader
      // $ConsecutivePartList.readFromVectoredRange): a 32-thread local JVM
      // on a contended disk is exactly where vectored-read futures time
      // out. Plain positional reads have no such future/timeout, and at
      // local-mode page-cache speeds the vectored merge wins nothing —
      // disable it for every session (VERDICT r04 #1a).
      .config("spark.hadoop.parquet.hadoop.vectored.io.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Local-mode width of `graft.Bench` and `graft.tools.Probe`
    * (SPARK_GRAFT_CPUS). */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** The scale-factor directory they time (SPARK_GRAFT_SF_DIR). */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
}
