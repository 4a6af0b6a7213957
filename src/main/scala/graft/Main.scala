package graft

import org.apache.spark.sql.{Encoders, SparkSession}

import graft.model._
import graft.operators.PageProcessing

/** spark-submit-able entry point for the graft engine.
  *
  * Subcommands:
  *   extract <page.json> [<page.json> ...]  — run the reference-semantics
  *     mention extraction over nested page documents and print the exploded
  *     mention rows (SURVEY §2 G1-G3, W2).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val spark = graft.util.Sessions.create(
      sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[32]"),
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32").toInt)
    try run(spark, args)
    finally spark.stop()
  }

  def run(spark: SparkSession, args: Array[String]): Unit = args.toList match {
    case "extract" :: paths if paths.nonEmpty =>
      import spark.implicits._
      val pages = spark.read
        .option("multiLine", true)
        .schema(Encoders.product[Page].schema)
        .json(paths: _*)
        .as[Page]
      val mentions = pages
        .filter(p => PageProcessing.isValidPage(p))
        .flatMap(p => PageProcessing.processPage(_ => None, p).mentions)
      mentions.show(200, truncate = false)
      println(s"mentions: ${mentions.count()}")

    case "iobes" :: paths if paths.nonEmpty =>
      // full chain: nested page docs -> mention extraction -> IOBES export
      import spark.implicits._
      val pages = spark.read
        .option("multiLine", true)
        .schema(Encoders.product[Page].schema)
        .json(paths: _*)
        .as[Page]
      val processed = graft.operators.MentionPipeline
        .processPages(spark, pages, Map.empty)
      val pageRows = processed.map(p =>
        (graft.operators.Blocking.docId(p.documentInfo.title),
          p.documentInfo.title, p.documentInfo.text))
        .toDF("page_id", "title", "content")
      val mentionRows = processed.flatMap { p =>
        p.mentions.map(m =>
          (graft.operators.Blocking.docId(p.documentInfo.title),
            m.entity, m.text, m.offset, m.preredirect))
      }.toDF("page_id", "entity", "mention_text", "offset", "preredirect")
      val rows = graft.operators.IobesExport
        .pageIobesRows(spark, pageRows, mentionRows).collect()
      rows.foreach { case (_, text) => println(text + "\n") }
      println(s"pages tagged: ${rows.length}")

    case "schema" :: paths if paths.nonEmpty =>
      // nested page docs -> star schema tables + views (SURVEY §1.2)
      import spark.implicits._
      val pages = spark.read
        .option("multiLine", true)
        .schema(Encoders.product[Page].schema)
        .json(paths: _*)
        .as[Page]
      val processed = graft.operators.MentionPipeline
        .processPages(spark, pages, Map.empty)
      val t = graft.operators.ElSchema.build(spark, processed, "wikipedia")
      println(s"pages=${t.pages.count()} categories=${t.categories.count()} " +
        s"page_categories=${t.pageCategories.count()} entities=${t.entities.count()} " +
        s"mentions=${t.mentions.count()} entity_mentions=${t.entityMentions.count()}")
      graft.operators.ElSchema.mentionByEntity(t)
        .orderBy("page_id", "offset").show(10, truncate = false)

    case "print" :: paths if paths.nonEmpty =>
      // reference print_page.py: page contents with mentions highlighted
      import spark.implicits._
      val pages = spark.read
        .option("multiLine", true)
        .schema(Encoders.product[Page].schema)
        .json(paths: _*)
        .as[Page]
      pages.collect().filter(PageProcessing.isValidPage).foreach { p =>
        val processed = PageProcessing.processPage(_ => None, p)
        println(graft.tools.PrettyPrint.pageContentsWithMentions(
          processed.documentInfo.text, processed.mentions))
      }

    case "resolve" :: outDir :: rest =>
      val nClusters = rest.headOption.map(_.toLong).getOrElse(1000L)
      println(graft.pipeline.EntityResolution.runAndReport(spark, outDir, nClusters))

    case "corpus" :: docsParquet :: outDir :: Nil =>
      // end-to-end training-corpus build over a (doc_id, source, text)
      // parquet table; resumable — rerunning with the same outDir replays
      // committed stages (kill mid-stage, rerun, it picks up where it died)
      val store = new graft.sources.SnapshotStore(spark, outDir)
      val packed = graft.pipeline.CorpusBuild.run(
        spark, store, spark.read.parquet(docsParquet))
      val nDocs = packed.count()
      val nPacks = packed.selectExpr("count(DISTINCT (shard, pack_id))").head().getLong(0)
      Seq("gated", "fingerprints", "canonical", "survivors", "packed", "mixture")
        .foreach(s => println(s"$s: ${store.manifest(s).getOrElse("?")}"))
      println(s"corpus: $nDocs docs in $nPacks packs")

    case other =>
      System.err.println(s"unknown args: ${other.mkString(" ")}")
      System.err.println(
        "usage: graft.Main extract|print <page.json>... | resolve <outDir> [nClusters]" +
          " | corpus <documents.parquet> <outDir>")
      sys.exit(2)
  }
}
