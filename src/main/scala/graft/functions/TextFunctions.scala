package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.text.Normalizer
import java.util.UUID

/** Pure text functions (zero Spark deps) — the reference's scalar layer
  * re-expressed as deterministic JVM functions so the UDF wrapper stays
  * thin and the logic is unit-testable off-cluster.
  *
  * Reference points:
  *  - cleanText: `scrc/utils/main_utils.py:113-139` (NFKC normalize,
  *    de-hyphenate line breaks, NBSP→space, collapse whitespace, strip
  *    control chars)
  *  - roman numerals: `scrc/utils/main_utils.py:171-210`
  *  - uuid5: `scrc/utils/sql_select_utils.py:168` (deterministic
  *    decision ids via uuid5(UUID(0), file_name))
  *  - simhash: near-dup fingerprint for the dedup pipeline (not in the
  *    reference; standard Charikar simhash over token multiset)
  */
object TextFunctions {

  /** NFKC normalize, de-hyphenate across line breaks, NBSP and friends
    * to plain space, collapse runs of whitespace, strip control chars.
    */
  def cleanText(s: String): String = {
    if (s == null) return null
    val nfkc = Normalizer.normalize(s, Normalizer.Form.NFKC)
    nfkc
      .replaceAll("(\\w)-\\n(\\w)", "$1$2")     // de-hyphenate line breaks
      .replaceAll("[\\u00a0\\u2007\\u202f]", " ") // NBSP family → space
      .replaceAll("[\\p{Cntrl}&&[^\n\t]]", "")  // control chars (keep \n\t)
      .replaceAll("_{2,}", "_")
      .replaceAll("\\s+", " ")
      .trim
  }

  private val romanVals =
    Seq(1000 -> "M", 900 -> "CM", 500 -> "D", 400 -> "CD", 100 -> "C",
      90 -> "XC", 50 -> "L", 40 -> "XL", 10 -> "X", 9 -> "IX",
      5 -> "V", 4 -> "IV", 1 -> "I")

  def intToRoman(n: Int): String = {
    require(n > 0 && n < 4000, s"roman range 1..3999, got $n")
    val sb = new StringBuilder
    var rem = n
    for ((v, sym) <- romanVals) while (rem >= v) { sb.append(sym); rem -= v }
    sb.toString
  }

  private val romanChar = Map('I' -> 1, 'V' -> 5, 'X' -> 10, 'L' -> 50,
    'C' -> 100, 'D' -> 500, 'M' -> 1000)

  def romanToInt(s: String): Int = {
    val vals = s.toUpperCase.map(romanChar)
    vals.zipAll(vals.tail, 0, 0).map { case (a, b) => if (a < b) -a else a }.sum
  }

  /** RFC 4122 name-based UUID v5 (SHA-1). `namespace` is the namespace
    * UUID; the reference uses UUID(int=0) as namespace for decision ids.
    */
  def uuid5(namespace: UUID, name: String): UUID = {
    val md = MessageDigest.getInstance("SHA-1")
    val ns = java.nio.ByteBuffer.allocate(16)
      .putLong(namespace.getMostSignificantBits)
      .putLong(namespace.getLeastSignificantBits).array()
    md.update(ns)
    md.update(name.getBytes(StandardCharsets.UTF_8))
    val h = md.digest()
    h(6) = ((h(6) & 0x0f) | 0x50).toByte // version 5
    h(8) = ((h(8) & 0x3f) | 0x80).toByte // RFC 4122 variant
    val bb = java.nio.ByteBuffer.wrap(h, 0, 16)
    new UUID(bb.getLong, bb.getLong)
  }

  val namespaceZero: UUID = new UUID(0L, 0L)

  /** Deterministic decision-id analog: uuid5 over the zero namespace. */
  def decisionId(fileName: String): String =
    uuid5(namespaceZero, fileName).toString

  /** 64-bit Charikar simhash over the token multiset, token weight = its
    * occurrence count. Token hash = first 8 bytes of md5 (stable across
    * JVMs/engines, unlike String.hashCode).
    */
  def simhash64(tokens: Seq[String]): Long = {
    val acc = new Array[Long](64)
    for (t <- tokens) {
      val h = md5Long(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** First 8 bytes of md5(token) as a big-endian long. */
  def md5Long(s: String): Long = {
    val d = MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  def hammingDistance(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** HTML → text (S4/F3 analog): strip script/style blocks, drop tags,
    * unescape the common entities, normalize whitespace. The reference
    * shells out to BeautifulSoup; a JVM DOM library (jsoup) drops in
    * here for real HTML — this regex path covers the well-formed case
    * and keeps the pipeline dependency-free.
    */
  def htmlToText(html: String): String = {
    if (html == null) return null
    val noBlocks = html
      .replaceAll("(?is)<(script|style)[^>]*>.*?</\\1>", " ")
      .replaceAll("(?is)<!--.*?-->", " ")
    val noTags = noBlocks.replaceAll("(?s)<[^>]+>", " ")
    // '&amp;' is unescaped LAST: doing it first would double-unescape
    // '&amp;lt;' into '<' (html.unescape resolves it to the literal '&lt;')
    val unescaped = noTags
      .replace("&nbsp;", " ")
      .replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&#39;", "'")
      .replace("&amp;", "&")
    unescaped.replaceAll("\\s+", " ").trim
  }

  /** HTML → paragraphs (F6 html path): block-level tag boundaries
    * become paragraph breaks, inline markup is stripped, each paragraph
    * is whitespace-normalized. Preserves the structure the section
    * fold (F7) needs — `htmlToText` is the flat variant.
    */
  def htmlToParagraphs(html: String): Seq[String] = {
    if (html == null) return Seq.empty
    val blocks = html
      .replaceAll("(?is)<(script|style)[^>]*>.*?</\\1>", " ")
      .replaceAll("(?is)<!--.*?-->", " ")
      .replaceAll("(?i)<(?:br|/p|/div|/h[1-6]|/li|/tr)[^>]*>", "\n")
    val noTags = blocks.replaceAll("(?s)<[^>]+>", " ")
    // '&amp;' is unescaped LAST: doing it first would double-unescape
    // '&amp;lt;' into '<' (html.unescape resolves it to the literal '&lt;')
    val unescaped = noTags
      .replace("&nbsp;", " ")
      .replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&#39;", "'")
      .replace("&amp;", "&")
    unescaped.split("\n").toSeq
      .map(_.replaceAll("\\s+", " ").trim)
      .filter(_.nonEmpty)
  }

  /** PDF text → paragraphs (F6 pdf path), reference semantics
    * (`get_pdf_paragraphs`, main_utils.py:71-88): spaces between two
    * line breaks removed, split on DOUBLE line breaks only (single
    * breaks stay inside a paragraph), double spaces collapsed, each
    * paragraph cleaned, empties dropped.
    */
  def pdfToParagraphs(text: String): Seq[String] =
    if (text == null) Seq.empty
    else text.replaceAll("\n +\n", "\n\n").split("\n\n").toSeq
      .map(e => cleanText(e.replace("  ", " ")))
      .filter(p => p != null && p.nonEmpty && p != " ")

  /** HTML → paragraphs, reference semantics (`get_paragraphs_unified`,
    * main_utils.py:52-61): EVERY text node is its own paragraph
    * (bs4 `.strings`), cleaned, empties dropped — inline markup splits
    * a sentence into multiple strings exactly like the reference.
    * `htmlToParagraphs` below is the block-level alternate.
    */
  def htmlToParagraphsUnified(html: String): Seq[String] =
    if (html == null) Seq.empty
    else HtmlDom.textNodes(HtmlDom.parse(html))
      .map(cleanText).filter(p => p != null && p.nonEmpty)

  /** F30: keep leading paragraphs until the word budget is exhausted
    * (`citation_extraction_dataset_creator.py:397-411` keeps 215 words).
    */
  def truncateParagraphs(text: String, maxWords: Int): String = {
    if (text == null) return null
    val out = Seq.newBuilder[String]
    var words = 0
    for (p <- text.split("\n") if words < maxWords) {
      out += p
      words += p.split("\\s+").count(_.nonEmpty)
    }
    out.result().mkString("\n")
  }

  /** F29: BIO labeling — tokenize with the reference's `[\w]+|[^\s\w]`
    * rule and tag tokens covered by (start, end, label) character spans
    * as B-label/I-label, O elsewhere
    * (`citation_extraction_dataset_creator.py:362-395`).
    */
  /** F33 proper tier: locale-aware sentence segmentation via the JDK's
    * UAX-#29 BreakIterator (the reference uses nltk sent_tokenize,
    * `fundamental_importance.py:216-225`). Unlike the regex tier (t8),
    * this keeps "Art. 5 Abs. 2", "Nr. 7", "E. 5.1 S. 426" together —
    * an abbreviation period followed by a NUMBER never breaks (ATerm ×
    * Numeric). Known caveat: an abbreviation followed by an uppercase
    * word ("Vgl. BGE…") still breaks, as in any dictionary-free
    * segmenter. Pure per-row function, zero shuffle.
    */
  def sentencesIcu(text: String, lang: String): Seq[String] = {
    if (text == null) return Seq.empty
    val locale = lang match {
      case "fr" => java.util.Locale.FRENCH
      case "it" => java.util.Locale.ITALIAN
      case "en" => java.util.Locale.ENGLISH
      case _    => java.util.Locale.GERMAN
    }
    val bi = java.text.BreakIterator.getSentenceInstance(locale)
    bi.setText(text)
    val out = Vector.newBuilder[String]
    var start = bi.first()
    var end = bi.next()
    while (end != java.text.BreakIterator.DONE) {
      val s = text.substring(start, end).trim
      if (s.nonEmpty) out += s
      start = end
      end = bi.next()
    }
    out.result()
  }

  /** The reference's ASCII word-rule tokenizer (`[\w]+|[^\s\w]`),
    * used by [[bioLabels]] only.
    */
  private val wordTokenRe = "[\\w]+|[^\\s\\w]".r

  /** Unicode variant of the word rule — the spaCy-analog token counts
    * use Python's unicode `\w` (umlauts/ligatures are word chars);
    * bioLabels keeps the ASCII rule its oracle restates.
    */
  private val unicodeWordTokenRe = "(?U)[\\w]+|[^\\s\\w]".r

  def unicodeWordTokens(text: String): Seq[String] =
    if (text == null) Seq.empty else unicodeWordTokenRe.findAllIn(text).toSeq

  def bioLabels(text: String, spans: Seq[(Int, Int, String)]): Seq[(String, String)] = {
    if (text == null) return Seq.empty
    val tokenRe = wordTokenRe
    val toks = tokenRe.findAllMatchIn(text).map(m => (m.matched, m.start, m.end)).toSeq
    toks.map { case (tok, s, e) =>
      spans.find(sp => s >= sp._1 && e <= sp._2) match {
        case Some((spanStart, _, label)) =>
          val isFirst = !toks.exists(t => t._2 >= spanStart && t._2 < s)
          tok -> s"${if (isFirst) "B" else "I"}-$label"
        case None => tok -> "O"
      }
    }
  }
}
