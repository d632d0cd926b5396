package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HTML main-text extraction — the first transform a raw-crawl corpus
  * passes through before any quality/dedup stage sees it. Heuristic in
  * the jusText / Arc90-readability family (public literature: Pomikálek
  * 2011; the block-scoring idea every production boilerplate remover
  * uses): segment the page into BLOCKS at block-level tag boundaries,
  * score each block by text mass and LINK DENSITY (anchor-text fraction),
  * keep content-shaped blocks, drop chrome (nav bars are short and ~100%
  * links; footers are short; script/style/comments are not text at all).
  *
  * Deliberately regex/scan-based and dependency-free: no DOM is built —
  * one linear pass per document, so the operator is a per-row map
  * (zero shuffle) and a malformed page degrades to "strip tags, keep
  * long blocks", never an exception. Limits are documented, not hidden:
  * CDATA is treated as text, conditional comments as comments, and
  * attributes containing a literal '>' inside quotes will split a tag
  * early — acceptable for crawl-scale curation (jusText makes the same
  * trade), and the q336 oracle pins the behavior on template-wrapped
  * corpus text.
  */
object HtmlExtract {

  private val ScriptStyle =
    "(?is)<(script|style|noscript|template)\\b[^>]*>.*?</\\1\\s*>".r
  private val Comment = "(?s)<!--.*?-->".r
  // block-level boundaries: opening OR closing forms all split blocks
  private val BlockTag =
    ("(?i)</?(p|div|br|li|ul|ol|h[1-6]|td|tr|table|section|article|aside|" +
      "header|footer|nav|main|title|blockquote|pre|dd|dt|figure|form)\\b[^>]*>").r
  private val AnchorSpan = "(?is)<a\\b[^>]*>(.*?)</a\\s*>".r
  private val AnyTag = "(?s)<[^>]*>".r
  private val HeadBlock = "(?is)<head\\b[^>]*>.*?</head\\s*>".r
  private val TitleSpan = "(?is)<title\\b[^>]*>(.*?)</title\\s*>".r
  // the named entities a crawl corpus actually carries (HTML4 core +
  // typographic punctuation); unknown names pass through as literal text
  private val Named = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> " ", "shy" -> "", "ensp" -> " ", "emsp" -> " ", "thinsp" -> " ",
    "mdash" -> "—", "ndash" -> "–", "hellip" -> "…",
    "lsquo" -> "‘", "rsquo" -> "’", "ldquo" -> "“",
    "rdquo" -> "”", "sbquo" -> "‚", "bdquo" -> "„",
    "prime" -> "′", "Prime" -> "″", "dagger" -> "†",
    "Dagger" -> "‡", "bull" -> "•", "middot" -> "·",
    "copy" -> "©", "reg" -> "®", "trade" -> "™",
    "deg" -> "°", "plusmn" -> "±", "times" -> "×",
    "divide" -> "÷", "laquo" -> "«", "raquo" -> "»",
    "sect" -> "§", "para" -> "¶", "permil" -> "‰",
    "euro" -> "€", "pound" -> "£", "yen" -> "¥",
    "cent" -> "¢", "frac12" -> "½", "frac14" -> "¼",
    "frac34" -> "¾", "sup1" -> "¹", "sup2" -> "²",
    "sup3" -> "³", "micro" -> "µ", "iexcl" -> "¡",
    "iquest" -> "¿", "szlig" -> "ß", "larr" -> "←",
    "rarr" -> "→", "harr" -> "↔", "zwnj" -> "", "zwj" -> "")
  private val EntityRef = "&(#[xX]?[0-9a-fA-F]+|[a-zA-Z][a-zA-Z0-9]{1,31});".r

  /** Single left-to-right pass (so `&amp;lt;` decodes to the literal text
    * `&lt;`, never double-decodes to `<`). A malformed numeric reference —
    * overflow (`&#99999999999;`), out-of-range code point (`&#1114112;`),
    * hex digits in a decimal form — passes through as its raw text: a
    * malformed page degrades, never an exception (the operator contract;
    * one bad crawl page must not kill the task).
    */
  private def decodeEntities(s: String): String =
    EntityRef.replaceAllIn(s, m => java.util.regex.Matcher.quoteReplacement {
      val name = m.group(1)
      if (name.charAt(0) == '#') {
        val hex = name.length > 1 && (name.charAt(1) == 'x' || name.charAt(1) == 'X')
        val digits = if (hex) name.substring(2) else name.substring(1)
        try {
          val cp = Integer.parseInt(digits, if (hex) 16 else 10)
          if (Character.isValidCodePoint(cp) && cp != 0)
            new String(Character.toChars(cp))
          else m.matched
        } catch { // overflow or invalid code point → raw entity text
          case _: IllegalArgumentException => m.matched
        }
      } else Named.getOrElse(name, m.matched)
    })

  private def clean(s: String): String =
    decodeEntities(AnyTag.replaceAllIn(s, " "))
      .replaceAll("\\s+", " ").trim

  /** Extract the main text of one HTML page: blocks with at least
    * `minChars` of cleaned text and link density ≤ `maxLinkDensity`,
    * joined by single newlines in document order. Non-HTML input (no
    * tags) passes through cleaned — the crawl-reality fallback.
    */
  def extractText(html: String, minChars: Int = 25,
      maxLinkDensity: Double = 0.34): String = {
    if (html == null) return null
    val noScript = ScriptStyle.replaceAllIn(html, " ")
    val noComment = Comment.replaceAllIn(noScript, " ")
    // head content (title/meta/link) is metadata, not main text — a long
    // <title> must not leak into the extracted body (jusText considers
    // body blocks only); [[extractTitle]] is the metadata path
    val noHead = HeadBlock.replaceAllIn(noComment, " ")
    val blocks = BlockTag.split(noHead)
    val kept = blocks.iterator.map { raw =>
      val anchorChars = AnchorSpan.findAllMatchIn(raw)
        .map(m => clean(m.group(1)).length).sum
      val text = clean(raw)
      (text, anchorChars)
    }.filter { case (text, anchorChars) =>
      text.length >= minChars &&
        (text.isEmpty || anchorChars.toDouble / text.length <= maxLinkDensity)
    }.map(_._1)
    kept.mkString("\n")
  }

  /** Page title — the metadata column a curation pipeline keeps beside
    * the main text (first `<title>` content, entity-decoded, whitespace-
    * collapsed; null input propagates, no title → empty string).
    */
  def extractTitle(html: String): String = {
    if (html == null) return null
    val noScript = ScriptStyle.replaceAllIn(html, " ")
    val noComment = Comment.replaceAllIn(noScript, " ")
    TitleSpan.findFirstMatchIn(noComment).map(m => clean(m.group(1))).getOrElse("")
  }

  /** DataFrame form: (idCol, textCol = extracted main text). One per-row
    * map over the html column — no shuffle, no state; nulls propagate.
    */
  def extract(docs: DataFrame, idCol: String, htmlCol: String,
      minChars: Int = 25, maxLinkDensity: Double = 0.34): DataFrame = {
    val ex = udf((h: String) => extractText(h, minChars, maxLinkDensity))
    docs.select(col(idCol), ex(col(htmlCol)).as("text"))
  }
}
