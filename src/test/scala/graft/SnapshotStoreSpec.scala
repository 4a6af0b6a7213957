package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, xxhash64}
import org.scalatest.funsuite.AnyFunSuite

import graft.model.WebPage
import graft.pipeline.{CorpusBuild, EntityResolution}
import graft.sources.{SnapshotStore, WebPagesGen}
import graft.util.{ParquetMeta, TaskClock}

/** The snapshot commit: the reread with the writer's schema, the manifest's
  * shape and footer counts, the replay check of a manifest against its
  * data, and the job count of one ER pass (the commit's serial floor). */
class SnapshotStoreSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** A store that records every frame its commits return. */
  private final class Recording(root: String) extends SnapshotStore(spark, root) {
    val rereads = ArrayBuffer.empty[(String, DataFrame)]
    override def write(stage: String, df: DataFrame): DataFrame = {
      val reread = super.write(stage, df)
      rereads += stage -> reread
      reread
    }
  }

  private def erCorpus(nClusters: Long): String = {
    val dir = tmpDir("snapshot-er-") + "/webpages"
    WebPagesGen.webpages(spark, nClusters).toDF().write.parquet(dir)
    dir
  }

  private def resolveInto(store: SnapshotStore, corpus: String): DataFrame = {
    import spark.implicits._
    EntityResolution.resolve(spark, store, spark.read.parquet(corpus).as[WebPage])
  }

  test("every ER and CorpusBuild stage rereads with the schema inference would give") {
    val pages = erCorpus(60L)
    val er = new Recording(tmpDir("snapshot-er-store-"))
    resolveInto(er, pages)
    // the same planted-duplicate pages as a (doc_id, source, text) corpus,
    // so the canonical stage has near-duplicate edges to cluster
    val corpus = new Recording(tmpDir("snapshot-cb-store-"))
    CorpusBuild.run(spark, corpus, spark.read.parquet(pages).select(
      xxhash64(col("url")).as("doc_id"), col("lang").as("source"), col("text")))
    val seen = (er.rereads ++ corpus.rereads).map(_._1)
    assert(seen == Seq("extracted", "features", "blocks", "pairs", "scored", "clusters",
      "gated", "fingerprints", "canonical", "survivors", "packed", "mixture"))
    for (store <- Seq(er, corpus); (stage, reread) <- store.rereads)
      assert(reread.schema == store.read(stage).schema, s"stage $stage")
  }

  test("the manifest keeps its five keys, and its footer rows equal per-file counts") {
    val root = tmpDir("snapshot-manifest-")
    val store = new SnapshotStore(spark, root)
    store.write("s", spark.range(0L, 1000L, 1L, 5).toDF("id"))
    val m = new ObjectMapper().readTree(store.manifest("s").get)
    assert(m.fieldNames().asScala.toSet ==
      Set("stage", "rows", "numFiles", "elapsedMs", "partitions"))
    val perFile = ParquetMeta.fileRowCounts(spark, s"$root/s/data")
    assert(perFile.length == 5 && m.path("numFiles").asInt() == 5)
    perFile.foreach { case (file, rows) =>
      assert(spark.read.parquet(file).count() == rows, file)
    }
    assert(m.path("rows").asLong() == 1000L && perFile.map(_._2).sum == 1000L)
  }

  test("a truncated manifest or a rows mismatch recomputes the stage, to the same result") {
    val root = tmpDir("snapshot-replay-")
    val store = new SnapshotStore(spark, root)
    var computes = 0
    def stage(): Seq[Long] =
      store.getOrCreate("s") {
        computes += 1
        spark.range(0L, 100L, 1L, 4).toDF("id")
      }.collect().map(_.getLong(0)).toSeq.sorted
    val first = stage()
    assert(stage() == first && computes == 1, "a consistent manifest replays")
    val manifest = Paths.get(root, "s", "_MANIFEST.json")
    // edits go around the local filesystem's checksum sidecar, whose
    // mismatch would fail the read before the manifest is looked at
    val sidecar = Paths.get(root, "s", "._MANIFEST.json.crc")

    val text = Files.readString(manifest)
    Files.writeString(manifest, text.take(text.length / 2))
    Files.deleteIfExists(sidecar)
    assert(!store.exists("s"), "a truncated manifest is not committed")
    assert(stage() == first && computes == 2, "a truncated manifest recomputes")

    val committed = Files.readString(manifest)
    val firstFileRows = "\"file\":\"[^\"]+\",\"rows\":(\\d+)".r
      .findFirstMatchIn(committed).get
    Files.writeString(manifest, committed.substring(0, firstFileRows.start(1)) +
      (firstFileRows.group(1).toLong + 1L) + committed.substring(firstFileRows.end(1)))
    Files.deleteIfExists(sidecar)
    assert(!store.exists("s"), "a per-file rows mismatch is not committed")
    assert(stage() == first && computes == 3, "a per-file rows mismatch recomputes")
    assert(stage() == first && computes == 3, "the recommitted stage replays")
  }

  test("one resolve pass into a fresh store stays within its job count") {
    // Every job of a pass is serial floor at these sizes. This pass took
    // 31 jobs while each commit ran a schema-inference job for its reread
    // and CC ran its large-star/small-star rounds; 21 with the reread
    // taking the writer's schema and union-find on the driver; 19 with
    // candidate pairs formed in one shuffle, without a block histogram.
    val corpus = erCorpus(60L)
    val clock = new TaskClock(spark.sparkContext)
    try {
      clock.drainedSeconds()
      clock.reset()
      resolveInto(new SnapshotStore(spark, tmpDir("snapshot-jobs-")), corpus)
      clock.drainedSeconds()
      val jobs = clock.jobs.length
      info(s"one resolve pass: $jobs jobs")
      assert(jobs <= MaxResolveJobs, s"one resolve pass ran $jobs jobs:\n" +
        clock.jobs.map(j => s"  ${j.id} ${j.sites}").mkString("\n"))
    } finally clock.close()
  }

  private val MaxResolveJobs = 19
}
