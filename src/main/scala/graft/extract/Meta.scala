package graft.extract

import graft.html.{Dom, Html5Tokenizer, TagView}
import scala.util.control.ControlThrowable

/** Page metadata extraction — title, description, OpenGraph, canonical
  * URL, published time, declared language — the per-document header
  * fields a training corpus carries beside the extracted text (and the
  * web analog of the reference's per-image result metadata;
  * GOT/demo/run_ocr_2.0.py keeps filename/mode beside each output).
  *
  * Semantics:
  *  - fields come from the document HEAD only: the scan stops at the
  *    earlier of `</head>` or `<body>` (metadata is head-scoped per the
  *    HTML spec; a body-placed og tag is spam-shaped, not metadata) —
  *    and because `<head>` precedes all content, the kernel reads a few
  *    KB of a crawl payload, not the whole document. Early exit rides a
  *    ControlThrowable (no stack trace cost; thrown once per doc);
  *  - FIRST occurrence wins for every field (browser/crawler behavior);
  *  - `<title>` text is entity-decoded by the tokenizer and
  *    whitespace-normalized ([[Dom.normalize]]);
  *  - `<meta name="description">`, `<meta property="og:title">`,
  *    `og:description`, `article:published_time` read `content`;
  *    name/property match case-insensitively (crawl HTML mixes case);
  *  - `<link rel="canonical">` reads `href` (rel matched as a
  *    whitespace-separated token list, case-insensitive);
  *  - `<html lang>` reads the attribute, lowercased;
  *  - absent fields are "" — never null (the column stays total);
  *  - truncated payloads keep every field seen before the cut (the
  *    extraction kernel's leniency discipline).
  *
  * Scale shape: pure map over the payload prefix via the streaming
  * tokenizer — no DOM, no token list; shuffle-free until the caller's
  * aggregate (the Outlinks/TableMd kernel shape).
  */
object Meta {

  final case class PageMeta(title: String, description: String,
      ogTitle: String, ogDescription: String, canonical: String,
      publishedTime: String, htmlLang: String)

  val Empty: PageMeta = PageMeta("", "", "", "", "", "", "")

  private final class Done extends ControlThrowable

  def extract(bytes: Array[Byte]): PageMeta = {
    if (Extractor.payloadKind(bytes) != "html") return Empty
    var title = ""; var desc = ""; var ogt = ""; var ogd = ""
    var canon = ""; var pub = ""; var lang = ""
    val sink = new Html5Tokenizer.TokenSink {
      private var inTitle = false
      private val titleBuf = new java.lang.StringBuilder

      private def relHasToken(rel: String, tok: String): Boolean =
        rel.toLowerCase.split("[ \t\r\n]+").contains(tok)

      def tagOpen(t: TagView): Unit = t.name match {
        case "html" =>
          if (lang.isEmpty) lang = t.attrOrEmpty("lang").toLowerCase
        case "title" if !t.selfClosing =>
          inTitle = title.isEmpty
          titleBuf.setLength(0)
        case "meta" =>
          val key = {
            val n = t.attrOrEmpty("name")
            if (n.nonEmpty) n else t.attrOrEmpty("property")
          }.toLowerCase
          val v = t.attrOrEmpty("content")
          key match {
            case "description"            => if (desc.isEmpty) desc = v
            case "og:title"               => if (ogt.isEmpty) ogt = v
            case "og:description"         => if (ogd.isEmpty) ogd = v
            case "article:published_time" => if (pub.isEmpty) pub = v
            case _                        => ()
          }
        case "link" =>
          if (canon.isEmpty && relHasToken(t.attrOrEmpty("rel"), "canonical"))
            canon = t.attrOrEmpty("href")
        case "body" => throw new Done // head is over
        case _      => ()
      }
      def tagClose(name: String, startByte: Int, endByte: Int): Unit =
        name match {
          case "title" =>
            if (inTitle) { title = Dom.normalize(titleBuf); inTitle = false }
          case "head" => throw new Done
          case _      => ()
        }
      def text(buf: CharSequence, startByte: Int, endByte: Int): Unit =
        if (inTitle) titleBuf.append(buf)
      def comment(c: Array[Char], f: Int, l: Int, sb: Int, eb: Int): Unit = ()
      def doctype(c: Array[Char], f: Int, l: Int, sb: Int, eb: Int): Unit = ()
    }
    try Html5Tokenizer.stream(bytes, sink)
    catch { case _: Done => () }
    PageMeta(title, desc, ogt, ogd, canon, pub, lang)
  }
}
