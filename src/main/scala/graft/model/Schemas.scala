package graft.model

/** Core data model for the graft entity-resolution engine.
  *
  * The nested page shape mirrors the reference's document model
  * (/root/reference/dump_to_mongo.js:11-19, test/fixtures/parade_page.json),
  * re-expressed as Spark-encodable case classes: optional fields become
  * `Option[_]` instead of key-presence checks
  * (/root/reference/src/data_cleaners.py:29,36,75-79).
  */

/** A wiki-style link inside a sentence. `text` is optional — absence means
  * the anchor text equals the target page name
  * (/root/reference/src/process_pages.py:94). */
final case class Link(page: Option[String], text: Option[String])

/** One sentence with its outgoing links
  * (/root/reference/dump_to_mongo.js:16). */
final case class Sentence(text: String, links: Option[Seq[Link]])

/** A table cell; only the `data` sentence is consumed
  * (/root/reference/src/data_cleaners.py:70-71). */
final case class TableCell(data: Option[Sentence])

/** A page section. `tables` is doubly nested and only `tables(0)` is read
  * (/root/reference/src/process_pages.py:122). */
final case class Section(
    title: Option[String],
    depth: Option[Int],
    sentences: Option[Seq[Sentence]],
    tables: Option[Seq[Seq[TableCell]]])

/** A full page document (/root/reference/test/fixtures/parade_page.json). */
final case class Page(
    title: String,
    pageID: Option[String],
    categories: Option[Seq[String]],
    isDisambiguation: Option[Boolean],
    plaintext: String,
    sections: Seq[Section])

/** One detected entity mention. Flattened from the reference's per-page
  * dict entity -> [mention] (/root/reference/src/process_pages.py:95-108):
  * every downstream consumer re-flattens that dict, so the engine keeps the
  * exploded row shape from the start. `sentence` is absent for mentions
  * produced by the exact-match heuristics
  * (/root/reference/src/process_pages.py:144-147, cf. golden
  * parade_page_contexts.json "Parade" entries). */
final case class Mention(
    entity: String,
    text: String,
    sentence: Option[String],
    offset: Int,
    pageTitle: String,
    preredirect: String)

/** Projection of a processed page
  * (/root/reference/src/process_pages.py:199-204). */
final case class DocumentInfo(
    sourceId: Option[String],
    title: String,
    text: String,
    categories: Seq[String],
    isDisambiguationPage: Boolean,
    isSeedPage: Boolean)

/** Result of processing one page
  * (/root/reference/src/process_pages.py:197-209) with the entity->mentions
  * dict exploded to ordered rows. `entities` preserves the reference's
  * insertion order including zero-mention entities
  * (/root/reference/src/process_pages.py:169-171). */
final case class ProcessedPage(
    documentInfo: DocumentInfo,
    mentions: Seq[Mention],
    entities: Seq[String])

/** Input table row per BASELINE.json `input_hint`:
  * webpages(url, warc_ts, html, text, lang). */
final case class WebPage(
    url: String,
    warc_ts: java.sql.Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** An undirected candidate/duplicate edge between two document ids. */
final case class Edge(src: Long, dst: Long)
