package graft.functions

/** Deterministic html -> text extraction.
  *
  * This is the engine's analog of the reference's parser-provided plaintext
  * (/root/reference/dump_to_mongo.js:17): the reference receives text
  * already extracted; our input table carries raw `html` binary
  * (BASELINE.json input_hint), so the engine owns extraction with a
  * byte-identical-per-url invariant — ONE pure function used by the
  * pipeline, the generator and the tests alike (SURVEY §7 hard-parts).
  * The final step applies the reference's page-content cleaning regexes
  * (/root/reference/src/data_cleaners.py:5-14) so downstream mention
  * semantics match.
  */
object HtmlExtract {

  private val ScriptBlock = "(?is)<script\\b[^>]*>.*?</script>".r
  private val StyleBlock = "(?is)<style\\b[^>]*>.*?</style>".r
  private val Comment = "(?s)<!--.*?-->".r
  private val Tag = "<[^>]*>".r
  private val TitleTag = "(?is)<title[^>]*>(.*?)</title>".r
  private val Ws = "\\s+".r

  /** Decode the html entities the corpus can contain. */
  def decodeEntities(s: String): String =
    s.replace("&lt;", "<")
      .replace("&gt;", ">")
      .replace("&quot;", "\"")
      .replace("&#39;", "'")
      .replace("&apos;", "'")
      .replace("&nbsp;", " ")
      .replace("&amp;", "&") // last, so &amp;lt; decodes to &lt; not <

  private def stripTags(html: String): String = {
    val noScript = ScriptBlock.replaceAllIn(html, " ")
    val noStyle = StyleBlock.replaceAllIn(noScript, " ")
    val noComment = Comment.replaceAllIn(noStyle, " ")
    Tag.replaceAllIn(noComment, " ")
  }

  /** The byte-identical invariant surface: html bytes -> extracted text. */
  def extractText(html: Array[Byte]): String =
    extractText(new String(html, java.nio.charset.StandardCharsets.UTF_8))

  def extractText(html: String): String = {
    if (html == null) return ""
    val text = decodeEntities(stripTags(html))
    val collapsed = Ws.replaceAllIn(text, " ").trim
    TextFunctions.cleanPageContent(collapsed)
  }

  /** Page title from the first <title> element, entity-decoded and
    * whitespace-collapsed; empty when absent. */
  def extractTitle(html: String): String =
    TitleTag.findFirstMatchIn(html)
      .map(m => Ws.replaceAllIn(decodeEntities(m.group(1)), " ").trim)
      .getOrElse("")
}
