package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Checkpointed stage snapshots with per-partition lineage rows and
  * counters — Iceberg-shaped semantics (atomic commit, manifest, resume)
  * over plain Parquet directories, because /opt/spark/jars carries no
  * Iceberg runtime (SURVEY §7). On a real cluster the same contract binds
  * to an Iceberg catalog: `write` = snapshot commit, `manifest` = snapshot
  * metadata, `getOrCreate` = time-travel-to-latest.
  *
  * Commit protocol: data files land under `<root>/<stage>/data`, then the
  * manifest is written last; a stage without `_MANIFEST.json` is considered
  * uncommitted and is recomputed — which is what makes every stage
  * resumable after a mid-stage kill (north rule).
  *
  * Limits of that contract:
  *  - the manifest appears atomically only where `rename` is atomic: the
  *    local filesystem and HDFS, not S3A (whose rename is copy + delete);
  *  - overwriting a committed stage deletes the old manifest before the
  *    new one is renamed into place, so in that window the stage reads as
  *    uncommitted.
  */
final class SnapshotStore(spark: SparkSession, root: String) {

  private def stageDir(stage: String) = new Path(root, stage)
  private def dataDir(stage: String) = new Path(stageDir(stage), "data")
  private def manifestPath(stage: String) = new Path(stageDir(stage), "_MANIFEST.json")
  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(stage: String): Boolean = fs.exists(manifestPath(stage))

  def read(stage: String): DataFrame =
    spark.read.parquet(dataDir(stage).toString)

  /** Write a stage snapshot: parquet data + manifest with row counters and
    * per-file (= per-partition) lineage rows. Returns the re-read frame so
    * downstream stages consume the materialized snapshot, truncating
    * lineage like a checkpoint. */
  def write(stage: String, df: DataFrame): DataFrame = {
    val t0 = System.nanoTime()
    df.write.mode("overwrite").parquet(dataDir(stage).toString)
    val reread = spark.read.parquet(dataDir(stage).toString)
    // Per-file lineage counters from the PARQUET FOOTERS (exact row
    // counts the writer already committed), not a second full scan of
    // the stage output — at 100 TB the old groupBy(input_file_name)
    // re-read doubled every stage's read cost just to fill the manifest.
    // One bounded footer read per file (= per partition), driver-side —
    // the same O(files) metadata pass an Iceberg snapshot commit does.
    val perFile = graft.util.ParquetMeta
      .fileRowCounts(spark, dataDir(stage).toString).sortBy(_._1)
    val totalRows = perFile.map(_._2).sum
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    val filesJson = perFile.map { case (f, n) =>
      s"""{"file":"${f.replace("\\", "/")}","rows":$n}"""
    }.mkString("[", ",", "]")
    val manifest =
      s"""{"stage":"$stage","rows":$totalRows,"numFiles":${perFile.length},""" +
        s""""elapsedMs":$elapsedMs,"partitions":$filesJson}"""
    // atomic commit: write to a temp name, then rename — a kill between
    // create and close must not leave a truncated _MANIFEST.json that
    // `exists()` treats as committed (the class contract: the manifest is
    // written LAST and appears atomically; VERDICT r06 #4)
    val tmp = new Path(stageDir(stage), "_MANIFEST.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(manifest.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(manifestPath(stage))) fs.delete(manifestPath(stage), false)
    if (!fs.rename(tmp, manifestPath(stage)))
      throw new java.io.IOException(
        s"could not commit manifest for stage $stage (rename failed)")
    reread
  }

  /** Resume-or-compute: replay the committed snapshot when present. */
  def getOrCreate(stage: String)(compute: => DataFrame): DataFrame =
    if (exists(stage)) read(stage) else write(stage, compute)

  /** Counters recorded for a committed stage (rows, files, elapsedMs). */
  def manifest(stage: String): Option[String] =
    if (!exists(stage)) None
    else {
      val path = manifestPath(stage)
      val len = fs.getFileStatus(path).getLen.toInt
      val buf = new Array[Byte](len)
      val in = fs.open(path)
      try in.readFully(0, buf)
      finally in.close()
      Some(new String(buf, java.nio.charset.StandardCharsets.UTF_8))
    }
}
