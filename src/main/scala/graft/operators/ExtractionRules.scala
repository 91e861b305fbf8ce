package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's introduction-PARSING rules (S11-S13) as pure
  * `String => Option[String]` functions — the transport (HTTP fetch, PDF
  * render, GROBID call) stays external by design (SURVEY §7.5 risk 6), but
  * the selection/boundary logic that decides extraction quality is pure
  * string work and lives here:
  *
  *  - S11 ArXiv HTML (`Ingestion/content_extractor.py:56-77`): section with
  *    id="S1", else the first section whose stripped text starts (first 50
  *    chars, lowercased) with/contains "introduction"; paragraphs joined
  *    with "\n\n"; accepted when > 200 chars.
  *  - S12 GROBID TEI (`content_extractor.py:100-113`): the
  *    `div[type=introduction]` element, same paragraph join and gate.
  *  - S13 PDF text regex (`content_extractor.py:141-168`): blank-line
  *    collapse, ordered start patterns (`1. Introduction` / `Introduction` /
  *    `INTRODUCTION`, case-insensitive, anchored at line starts), ordered
  *    end patterns (`2. Method|Background|Related|Result` / `References` /
  *    `Discussion`), 10 000-char fallback window, whitespace collapse, and
  *    the 200 < len < 15000 acceptance gate.
  *
  * The markup handling is a deliberately light parser for the
  * reference-shaped documents its tests use (nesting-aware element scan,
  * tag-stripped text, basic entities) — not a general HTML5 parser.
  * Fixture tests in ExtractionRulesSpec mirror `test_content_extractor.py`.
  */
object ExtractionRules {

  // ---- minimal markup scanning -------------------------------------------

  /** All `<tag ...>...</tag>` elements in document order (outer before
    * inner, like BeautifulSoup's find_all), nesting-aware.
    * Returns (attribute string, inner markup).
    */
  private[operators] def elements(markup: String, tag: String): Seq[(String, String)] = {
    val tok = java.util.regex.Pattern.compile(
      s"(?i)<(/?)$tag(\\s[^>]*?)?>").matcher(markup)
    // collect (isClose, attrs, start, end) of every tag token
    val toks = scala.collection.mutable.ArrayBuffer.empty[(Boolean, String, Int, Int)]
    while (tok.find()) {
      toks += ((tok.group(1) == "/", Option(tok.group(2)).getOrElse(""),
        tok.start(), tok.end()))
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    // for each open token, find its matching close by depth count
    toks.indices.foreach { i =>
      val (isClose, attrs, _, openEnd) = toks(i)
      if (!isClose) {
        var depth = 1
        var j = i + 1
        while (j < toks.length && depth > 0) {
          if (toks(j)._1) depth -= 1 else depth += 1
          if (depth == 0) out += ((attrs, markup.substring(openEnd, toks(j)._3)))
          j += 1
        }
      }
    }
    out.toSeq
  }

  private def attr(attrs: String, name: String): Option[String] = {
    val m = java.util.regex.Pattern.compile(
      s"""(?i)\\b$name\\s*=\\s*["']([^"']*)["']""").matcher(attrs)
    if (m.find()) Some(m.group(1)) else None
  }

  /** BeautifulSoup `get_text(strip=True)`: each text fragment between tags
    * is stripped, fragments concatenate with NO separator (the reference
    * relies on this for the first-50-chars "introduction" probe).
    */
  private[operators] def textStripped(markup: String): String =
    markup.split("<[^>]*>")
      // pyStrip, not String.strip: BeautifulSoup strips Python-whitespace,
      // which includes the NBSPs Java's Character.isWhitespace excludes
      .map(f => graft.functions.TextFns.pyStrip(unescape(f)))
      .filter(_.nonEmpty)
      .mkString("")

  private def unescape(s: String): String =
    s.replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&#39;", "'").replace("&amp;", "&")

  private def paragraphsJoined(inner: String): String =
    elements(inner, "p").map(p => textStripped(p._2)).mkString("\n\n")

  // ---- S11: ArXiv HTML ----------------------------------------------------

  /** `content_extractor.py:56-77`: section#S1, else first section whose
    * stripped text's first 50 lowercased chars contain "introduction";
    * paragraphs joined with "\n\n"; > 200 chars to accept.
    */
  def htmlIntroduction(html: String): Option[String] = {
    if (html == null) return None
    val sections = elements(html, "section")
    val intro = sections.find(s => attr(s._1, "id").contains("S1"))
      .orElse(sections.find(s =>
        textStripped(s._2).toLowerCase(java.util.Locale.ROOT).take(50)
          .contains("introduction")))
    intro.map(s => paragraphsJoined(s._2)).filter(_.length > 200)
  }

  // ---- S12: GROBID TEI ----------------------------------------------------

  /** `content_extractor.py:100-113`: `div[type=introduction]`, paragraphs
    * joined with "\n\n"; > 200 chars to accept.
    */
  def teiIntroduction(xml: String): Option[String] = {
    if (xml == null) return None
    elements(xml, "div")
      .find(d => attr(d._1, "type").contains("introduction"))
      .map(d => paragraphsJoined(d._2))
      .filter(_.length > 200)
  }

  // ---- S13: PDF plain-text regex ------------------------------------------

  private val U = java.util.regex.Pattern.UNICODE_CHARACTER_CLASS
  private val CI = java.util.regex.Pattern.CASE_INSENSITIVE
  // [\s\x1c-\x1f]: Python re \s (Py_UNICODE_ISSPACE) ⊃ Java Unicode \s
  private val blankLines =
    java.util.regex.Pattern.compile("\\n[\\s\\x1c-\\x1f]*\\n", U)
  private val wsRun = java.util.regex.Pattern.compile("[\\s\\x1c-\\x1f]+", U)
  // ordered as in the reference — FIRST PATTERN that matches wins, even if
  // a later pattern would match earlier in the text
  private val startPatterns = Seq(
    "(?:^|\\n)1\\.\\s*Introduction",
    "(?:^|\\n)Introduction",
    "(?:^|\\n)INTRODUCTION"
  ).map(p => java.util.regex.Pattern.compile(p, CI | U))
  private val endPatterns = Seq(
    "\\n\\s*2\\.\\s*(Method|Background|Related|Result)",
    "\\n\\s*References",
    "\\n\\s*Discussion"
  ).map(p => java.util.regex.Pattern.compile(p, CI | U))

  /** `content_extractor.py:141-168` minus the fetch/render: boundary rules
    * over already-rendered PDF page text.
    */
  def pdfIntroduction(pageText: String): Option[String] = {
    if (pageText == null) return None
    val text = blankLines.matcher(pageText).replaceAll("\n")
    val start = startPatterns.iterator
      .map(_.matcher(text))
      .collectFirst { case m if m.find() => m.end() }
    start.flatMap { s =>
      val remaining = text.substring(s)
      val end = endPatterns.iterator
        .map(_.matcher(remaining))
        .collectFirst { case m if m.find() => m.start() }
      val intro0 = end match {
        case Some(e) => remaining.substring(0, e)
        case None => remaining.take(10000)
      }
      val intro = graft.functions.TextFns.pyStrip(
        wsRun.matcher(intro0).replaceAll(" "))
      if (intro.length > 200 && intro.length < 15000) Some(intro) else None
    }
  }

  // ---- DataFrame plumbing --------------------------------------------------

  private val htmlUdf = udf((s: String) => htmlIntroduction(s))
  private val teiUdf = udf((s: String) => teiIntroduction(s))
  private val pdfUdf = udf((s: String) => pdfIntroduction(s))

  /** Full dispatcher over RAW per-tier payloads: parse each tier with its
    * rule, then run the [[ContentExtraction]] gate chain on the parsed
    * candidates — the complete S11→S15 path with the transports factored
    * out.
    */
  def extractFromRaw(df: DataFrame, htmlRaw: Column, teiRaw: Column,
                     pdfRaw: Column, abstractCol: Column,
                     tldrCol: Column): DataFrame =
    ContentExtraction.extract(df, htmlUdf(htmlRaw), teiUdf(teiRaw),
      pdfUdf(pdfRaw), abstractCol, tldrCol)
}
