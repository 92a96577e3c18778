package graft.extract

import graft.html.{Html5Tokenizer, TagView}
import scala.collection.mutable.ArrayBuffer

/** Sitemap parsing — the other half of crawl seeding beside robots.txt
  * (sitemaps.org protocol): `<urlset><url><loc>…</loc><lastmod>…` and
  * the `<sitemapindex><sitemap><loc>` index form both reduce to
  * (loc, lastmod) entries that feed the fetch frontier.
  *
  * Reuses the streaming HTML5 tokenizer (sitemap XML is tag-soup-safe
  * under it: tags lowercase, text entity-decoded, CDATA bodies
  * delivered as text, processing instructions routed to the comment
  * sink and ignored), so hostile/truncated payloads degrade leniently
  * instead of erroring — the same quarantine discipline as the
  * extraction kernel. Pure map-side at scale: one sitemap payload in,
  * a handful of frontier rows out, no DOM build.
  */
object Sitemaps {

  /** One frontier entry; `lastmod` is "" when the tag is absent. */
  final case class Entry(loc: String, lastmod: String)

  def parse(bytes: Array[Byte]): Seq[Entry] = {
    val out = ArrayBuffer.empty[Entry]
    val sink = new Html5Tokenizer.TokenSink {
      private var inLoc = false
      private var inLastmod = false
      private val loc = new java.lang.StringBuilder
      private val lastmod = new java.lang.StringBuilder
      private var haveLoc = false
      private def closeEntry(): Unit = {
        if (haveLoc && loc.toString.trim.nonEmpty)
          out += Entry(loc.toString.trim, lastmod.toString.trim)
        loc.setLength(0); lastmod.setLength(0)
        haveLoc = false; inLoc = false; inLastmod = false
      }
      def tagOpen(t: TagView): Unit = t.name match {
        case "url" | "sitemap" => closeEntry() // implicit close of unterminated entry
        case "loc" => inLoc = true; loc.setLength(0); haveLoc = true
        case "lastmod" => inLastmod = true; lastmod.setLength(0)
        case _ => ()
      }
      def tagClose(name: String, startByte: Int, endByte: Int): Unit = name match {
        case "loc" => inLoc = false
        case "lastmod" => inLastmod = false
        case "url" | "sitemap" => closeEntry()
        case _ => ()
      }
      def text(buf: CharSequence, startByte: Int, endByte: Int): Unit = {
        if (inLoc) loc.append(buf)
        if (inLastmod) lastmod.append(buf)
      }
      def comment(chars: Array[Char], from: Int, len: Int, sb: Int, eb: Int): Unit = ()
      def doctype(chars: Array[Char], from: Int, len: Int, sb: Int, eb: Int): Unit = ()
      def close(): Unit = closeEntry() // lenient on truncated payloads
    }
    Html5Tokenizer.stream(bytes, sink)
    sink.close()
    out.toSeq
  }
}
