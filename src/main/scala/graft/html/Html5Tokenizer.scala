package graft.html

import scala.collection.mutable.ArrayBuffer

/** Tokens carry the BYTE span [startByte, endByte) they were decoded from,
  * so downstream span offsets always index into the original payload
  * (BASELINE.json: "per-url extracted text and span offsets").
  */
sealed trait HtmlToken { def startByte: Int; def endByte: Int }
final case class TagOpen(name: String, attrs: List[(String, String)],
    selfClosing: Boolean, startByte: Int, endByte: Int) extends HtmlToken {
  def attr(k: String): Option[String] = {
    var cur = attrs
    while (cur.nonEmpty) { if (cur.head._1 == k) return Some(cur.head._2); cur = cur.tail }
    None
  }
  /** Allocation-free variant for the hot path. */
  def attrOrEmpty(k: String): String = {
    var cur = attrs
    while (cur.nonEmpty) { if (cur.head._1 == k) return cur.head._2; cur = cur.tail }
    ""
  }
}
final case class TagClose(name: String, startByte: Int, endByte: Int) extends HtmlToken
/** `text` is entity-decoded; the byte span covers the raw (encoded) run. */
final case class TextRun(text: String, startByte: Int, endByte: Int) extends HtmlToken
final case class CommentTok(text: String, startByte: Int, endByte: Int) extends HtmlToken
final case class DoctypeTok(text: String, startByte: Int, endByte: Int) extends HtmlToken

/** Decoded characters plus a char-index → byte-offset map. `nChars` is
  * the logical length (the arrays may be oversized reusable scratch);
  * off(nChars) = total byte length. When `identityOffs` (single-byte
  * charsets, pure-ASCII UTF-8 — the common crawl case) the offset array
  * is never materialized: char index == byte offset. */
final class Decoded(val chars: Array[Char], val byteOff: Array[Int], val nChars: Int,
    val identityOffs: Boolean = false) {
  @inline def off(i: Int): Int = if (identityOffs) i else byteOff(i)
}

/** The start tag a `TokenSink.tagOpen` call receives: ONE reused view per
  * thread (`KernelScratch.tagView`), valid only during that call — the
  * contract the tokenizer's text buffers already have. Attributes sit in
  * parallel arrays, in source order: interned-or-fresh lowercase names,
  * and entity-decoded values as ranges of `valueChars`. `attrOrEmpty`
  * and `toTagOpen` make owned copies. */
final class TagView {
  private var name0 = ""
  private var selfClosing0 = false
  private var startByte0 = 0
  private var endByte0 = 0
  private var nAttrs = 0
  private var names = new Array[String](8)
  private var offs = new Array[Int](8)
  private var lens = new Array[Int](8)
  private var chars = new Array[Char](256)
  private var charsLen = 0

  def name: String = name0
  def selfClosing: Boolean = selfClosing0
  def startByte: Int = startByte0
  def endByte: Int = endByte0
  def valueChars: Array[Char] = chars
  def valueOff(i: Int): Int = offs(i)
  def valueLen(i: Int): Int = lens(i)

  /** Index of the first attribute named `k`, or -1. */
  def attrIndex(k: String): Int = {
    var i = 0
    while (i < nAttrs) { if (names(i) == k) return i; i += 1 }
    -1
  }
  private def attrValue(i: Int): String = new String(chars, offs(i), lens(i))
  def attrOrEmpty(k: String): String = {
    val i = attrIndex(k)
    if (i < 0) "" else attrValue(i)
  }

  /** An owned token with the same name, attributes and span. */
  def toTagOpen: TagOpen = {
    var attrs: List[(String, String)] = Nil
    var i = nAttrs - 1
    while (i >= 0) { attrs = (names(i) -> attrValue(i)) :: attrs; i -= 1 }
    TagOpen(name0, attrs, selfClosing0, startByte0, endByte0)
  }

  private[html] def start(name: String): Unit = {
    name0 = name; nAttrs = 0; charsLen = 0
  }
  private[html] def end(selfClosing: Boolean, startByte: Int, endByte: Int): Unit = {
    selfClosing0 = selfClosing; startByte0 = startByte; endByte0 = endByte
  }
  /** Appends an attribute whose value is `src[from, from + len)`. */
  private[html] def addAttr(name: String, src: Array[Char], from: Int, len: Int): Unit = {
    reserve(len)
    System.arraycopy(src, from, chars, charsLen, len)
    push(name, len)
  }
  private[html] def addAttr(name: String, value: String): Unit = {
    reserve(value.length)
    value.getChars(0, value.length, chars, charsLen)
    push(name, value.length)
  }
  private def reserve(len: Int): Unit =
    if (charsLen + len > chars.length)
      chars = java.util.Arrays.copyOf(chars, math.max(2 * chars.length, charsLen + len))
  private def push(name: String, len: Int): Unit = {
    if (nAttrs == names.length) {
      names = java.util.Arrays.copyOf(names, 2 * nAttrs)
      offs = java.util.Arrays.copyOf(offs, 2 * nAttrs)
      lens = java.util.Arrays.copyOf(lens, 2 * nAttrs)
    }
    names(nAttrs) = name; offs(nAttrs) = charsLen; lens(nAttrs) = len
    charsLen += len
    nAttrs += 1
  }
  /** This view loaded from an owned token (token-list replay). */
  private[html] def load(t: TagOpen): TagView = {
    start(t.name)
    var a = t.attrs
    while (a.nonEmpty) { addAttr(a.head._1, a.head._2); a = a.tail }
    end(t.selfClosing, t.startByte, t.endByte)
    this
  }
}

/** From-scratch HTML5-style tokenizer (data / tag / attribute / comment /
  * doctype / RAWTEXT / RCDATA / CDATA states), lenient on hostile bytes:
  * never throws, unterminated constructs are flushed at EOF.
  *
  * Replaces the reference's image-decode front end
  * (GOT/demo/run_ocr_2.0.py:35-41) with the web-payload analog mandated by
  * BASELINE.json (streaming HTML5 tokenizer over Common-Crawl pages).
  */
object Html5Tokenizer {

  /** Elements whose content is raw text (no entities, no nested tags). */
  private val rawText = Set("script", "style", "xmp", "iframe", "noembed", "noframes")
  /** Elements whose content is text with entities but no nested tags. */
  private val rcdata = Set("textarea", "title")
  val voidElements: Set[String] = Set("area", "base", "br", "col", "embed",
    "hr", "img", "input", "link", "meta", "param", "source", "track", "wbr")

  // r6: rawtext/rcdata membership as one open-addressing probe (same
  // djb2 table shape as Dom's tag-flag table) instead of two
  // immutable-Set trie walks per non-self-closing start tag.
  private final val FRawtext = 1
  private final val FRcdata = 2
  private final val ModeMask = 63
  private val modeNames = new Array[String](ModeMask + 1)
  private val modeVals = new Array[Int](ModeMask + 1)
  locally {
    def add(n: String, f: Int): Unit = {
      var slot = internHash(n) & ModeMask
      while (modeNames(slot) != null && modeNames(slot) != n)
        slot = (slot + 1) & ModeMask
      modeNames(slot) = n
      modeVals(slot) |= f
    }
    rawText.foreach(add(_, FRawtext))
    rcdata.foreach(add(_, FRcdata))
  }
  @inline private def contentMode(name: String): Int = {
    var h = 5381; var i = 0
    while (i < name.length) { h = h * 33 + name.charAt(i); i += 1 }
    var slot = h & ModeMask
    var e = modeNames(slot)
    while (e != null) {
      if ((e eq name) || e == name) return modeVals(slot)
      slot = (slot + 1) & ModeMask
      e = modeNames(slot)
    }
    0
  }

  /** Sniff charset from a `charset=` occurrence in the head bytes;
    * defaults to UTF-8. Supported: utf-8, iso-8859-1/latin-1, windows-1252
    * (decoded as latin-1 superset; the 0x80-0x9f block maps via cp1252).
    *
    * r6: the match position is found with an allocation-free
    * ASCII-case-insensitive byte scan — the old form decoded + lowercased
    * a 2 KB head String per document (~5% of kernel in the JFR profile);
    * only the tiny value window after a hit is decoded now. The scan
    * matches exactly where `ISO-8859-1-decode → toLowerCase → indexOf`
    * matched: the pattern is pure ASCII, and Latin-1 case mapping is
    * 1:1 in length, so positions coincide and non-ASCII bytes (whose
    * lowercase forms stay outside ASCII) never alias into the pattern. */
  private final val CharsetLit = "charset=".toCharArray
  def sniffCharset(bytes: Array[Byte]): String = {
    val n = math.min(bytes.length, 2048)
    var i = 0
    val last = n - CharsetLit.length
    var found = -1
    while (found < 0 && i <= last) {
      var k = 0
      var ok = true
      while (ok && k < CharsetLit.length) {
        val b = bytes(i + k) & 0xff
        val c = CharsetLit(k)
        // letters match case-insensitively (ASCII only); '=' exactly
        if (b != c && !(c >= 'a' && c <= 'z' && b == c - 32)) ok = false
        k += 1
      }
      if (ok) found = i
      i += 1
    }
    if (found < 0) return "utf-8"
    // decode just the value window with the ORIGINAL parse rules (quote
    // skip + isLetterOrDigit/-/_ run). Known charset names are < 16
    // chars; a window of 40 covers every match-or-reject identically
    // (a letter run longer than the window cannot equal a known name
    // either way — both paths fall through to utf-8).
    val ws = found + CharsetLit.length
    val we = math.min(ws + 40, n)
    val head = new String(bytes, ws, we - ws, java.nio.charset.StandardCharsets.ISO_8859_1).toLowerCase
    var j = 0
    if (j < head.length && (head.charAt(j) == '"' || head.charAt(j) == '\'')) j += 1
    val start = j
    while (j < head.length && (head.charAt(j).isLetterOrDigit || head.charAt(j) == '-' || head.charAt(j) == '_')) j += 1
    head.substring(start, j) match {
      case "iso-8859-1" | "latin-1" | "latin1" => "iso-8859-1"
      case "windows-1252" | "cp1252"           => "windows-1252"
      case _                                   => "utf-8"
    }
  }

  private val cp1252High: Array[Char] = Array(
    '€', '', '‚', 'ƒ', '„', '…', '†', '‡',
    'ˆ', '‰', 'Š', '‹', 'Œ', '', 'Ž', '',
    '', '‘', '’', '“', '”', '•', '–', '—',
    '˜', '™', 'š', '›', 'œ', '', 'ž', 'Ÿ')

  /** Lenient decode with byte-offset tracking. Invalid UTF-8 sequences
    * become U+FFFD advancing one byte (never throws). */
  def decode(bytes: Array[Byte], charset: String): Decoded =
    decodeImpl(bytes, charset, null)

  /** With `ks` non-null the result lives in the thread's reusable decode
    * buffers (`KernelScratch.decChars`/`decOffs`): the tokenizer consumes
    * the Decoded fully before the next document, so within one kernel
    * call the scratch is safe to reuse. */
  private def decodeImpl(bytes: Array[Byte], charset: String, ks: KernelScratch): Decoded = {
    val n = bytes.length
    // worst case one char per byte (+1 offset sentinel); primitive arrays,
    // no boxing — this runs once per document byte
    val chars =
      if (ks == null) new Array[Char](n)
      else {
        if (ks.decChars.length < n) ks.decChars = new Array[Char](n + (n >> 1))
        ks.decChars
      }
    charset match {
      case "iso-8859-1" | "windows-1252" =>
        // single-byte charsets: char index == byte offset, no offs array
        val win = charset == "windows-1252"
        var i = 0
        while (i < n) {
          val b = bytes(i) & 0xff
          chars(i) = if (win && b >= 0x80 && b <= 0x9f) cp1252High(b - 0x80) else b.toChar
          i += 1
        }
        return new Decoded(chars, null, n, identityOffs = true)
      case _ => ()
    }
    // utf-8: widen the ASCII prefix with a tight branch-light loop; most
    // crawl payloads are pure ASCII and never leave it
    var asc = 0
    while (asc < n && bytes(asc) >= 0) { chars(asc) = bytes(asc).toChar; asc += 1 }
    if (asc == n) return new Decoded(chars, null, n, identityOffs = true)
    val offs =
      if (ks == null) new Array[Int](n + 1)
      else {
        if (ks.decOffs.length < n + 1) ks.decOffs = new Array[Int](n + (n >> 1) + 1)
        ks.decOffs
      }
    var k = 0
    @inline def put(c: Char, at: Int): Unit = { chars(k) = c; offs(k) = at; k += 1 }
    // identity offsets for the already-decoded ASCII prefix
    while (k < asc) { offs(k) = k; k += 1 }
    var i = asc
    while (i < n) {
          val b0 = bytes(i) & 0xff
          if (b0 < 0x80) { put(b0.toChar, i); i += 1 }
          else if ((b0 & 0xe0) == 0xc0 && i + 1 < n && (bytes(i + 1) & 0xc0) == 0x80) {
            val cp = ((b0 & 0x1f) << 6) | (bytes(i + 1) & 0x3f)
            if (cp >= 0x80) { put(cp.toChar, i); i += 2 }
            else { put('�', i); i += 1 } // overlong
          } else if ((b0 & 0xf0) == 0xe0 && i + 2 < n &&
              (bytes(i + 1) & 0xc0) == 0x80 && (bytes(i + 2) & 0xc0) == 0x80) {
            val cp = ((b0 & 0x0f) << 12) | ((bytes(i + 1) & 0x3f) << 6) | (bytes(i + 2) & 0x3f)
            if (cp >= 0x800 && !(cp >= 0xd800 && cp <= 0xdfff)) { put(cp.toChar, i); i += 3 }
            else { put('�', i); i += 1 }
          } else if ((b0 & 0xf8) == 0xf0 && i + 3 < n &&
              (bytes(i + 1) & 0xc0) == 0x80 && (bytes(i + 2) & 0xc0) == 0x80 && (bytes(i + 3) & 0xc0) == 0x80) {
            val cp = ((b0 & 0x07) << 18) | ((bytes(i + 1) & 0x3f) << 12) |
              ((bytes(i + 2) & 0x3f) << 6) | (bytes(i + 3) & 0x3f)
            if (cp >= 0x10000 && cp <= 0x10ffff) {
              val pair = Character.toChars(cp)
              put(pair(0), i); put(pair(1), i)
              i += 4
            } else { put('�', i); i += 1 }
          } else { put('�', i); i += 1 }
    }
    offs(k) = n
    new Decoded(chars, offs, k)
  }

  def tokenize(bytes: Array[Byte]): scala.collection.immutable.ArraySeq[HtmlToken] =
    tokenizeDecoded(decodeImpl(bytes, sniffCharset(bytes), KernelScratch.get()))

  /** Diagnostic hook (DiagPhase): charset-sniff + decode only, no token
    * scan — isolates the decode loop's share of tokenizer cost. */
  private[graft] def decodeOnly(bytes: Array[Byte]): Decoded =
    decodeImpl(bytes, sniffCharset(bytes), KernelScratch.get())

  /** Streaming consumer of the token scan — the fused path (Dom builds
    * blocks directly from these events with no token materialization;
    * DiagPhase measured the token list + replay at ~2x the event cost).
    *
    * Contract: `text`'s `buf` and `tagOpen`'s view are REUSED, valid
    * only during the call — copy immediately, never retain.
    * `comment`/`doctype` pass a raw char range for the same reason.
    * Event order and text-run batching are IDENTICAL to the token list
    * `tokenize` returns — that list is this stream with every event
    * copied (`tokenizeDecoded`), and the goldens pin both paths. */
  trait TokenSink {
    /** Sinks that never read some tags' attributes can return false to
      * skip attr STRING construction for those names (r6b) — the
      * tokenizer still scans past the attributes with the identical
      * state machine (quote rules, '>' detection, positions), it only
      * skips building the name/value strings and the list. Default:
      * parse everything (the token-list path and attr-reading sinks). */
    def wantsAttrs(name: String): Boolean = true
    def tagOpen(t: TagView): Unit
    def tagClose(name: String, startByte: Int, endByte: Int): Unit
    def text(buf: CharSequence, startByte: Int, endByte: Int): Unit
    def comment(chars: Array[Char], from: Int, len: Int, startByte: Int, endByte: Int): Unit
    def doctype(chars: Array[Char], from: Int, len: Int, startByte: Int, endByte: Int): Unit
  }

  /** Tokenize straight into a sink — decode + single scan, no token list. */
  def stream(bytes: Array[Byte], sink: TokenSink): Unit =
    stream(bytes, sink, KernelScratch.get())

  /** Same, with the caller's scratch (one ThreadLocal fetch per document). */
  def stream(bytes: Array[Byte], sink: TokenSink, ks: KernelScratch): Unit =
    streamDecoded(decodeImpl(bytes, sniffCharset(bytes), ks), sink, ks)

  /** The token list: the event stream with every event copied into an
    * owned token. */
  def tokenizeDecoded(d: Decoded): scala.collection.immutable.ArraySeq[HtmlToken] = {
    val out = Array.newBuilder[HtmlToken]
    streamDecoded(d, new TokenSink {
      def tagOpen(t: TagView): Unit = out += t.toTagOpen
      def tagClose(name: String, startByte: Int, endByte: Int): Unit =
        out += TagClose(name, startByte, endByte)
      def text(buf: CharSequence, startByte: Int, endByte: Int): Unit =
        out += TextRun(buf.toString, startByte, endByte)
      def comment(chars: Array[Char], from: Int, len: Int, startByte: Int, endByte: Int): Unit =
        out += CommentTok(new String(chars, from, len), startByte, endByte)
      def doctype(chars: Array[Char], from: Int, len: Int, startByte: Int, endByte: Int): Unit =
        out += DoctypeTok(new String(chars, from, len), startByte, endByte)
    })
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out.result())
  }

  def streamDecoded(d: Decoded, sink: TokenSink): Unit =
    streamDecoded(d, sink, KernelScratch.get())

  private[html] def streamDecoded(d: Decoded, sink: TokenSink, ks: KernelScratch): Unit = {
    val s = d.chars
    val identity = d.identityOffs
    val bo = d.byteOff
    @inline def off(i: Int): Int = if (identity) i else bo(i)
    val n = d.nChars

    // pending text accumulation. r6: a text run that is ONE contiguous
    // raw segment (the overwhelmingly common case — no entities, no
    // CDATA splice) is never copied into the StringBuilder at all; it
    // is emitted as a window view straight over the decode buffer
    // (rawFrom/rawUntil pending below). Multi-segment runs materialize
    // the pending segment first and fall back to the builder path.
    val text = { val b = ks.tokText; b.setLength(0); b } // thread-scratch (r6b)
    val window = new CharWindow(s)
    var rawFrom = -1   // pending not-yet-copied raw segment
    var rawUntil = -1
    var textStart = -1 // char index of first char in the run
    var textEnd = -1   // char index AFTER the last consumed char
    @inline def materializeRaw(): Unit = {
      if (rawFrom >= 0) {
        text.append(s, rawFrom, rawUntil - rawFrom)
        rawFrom = -1; rawUntil = -1
      }
    }
    @inline def flushText(): Unit = {
      if (text.length == 0 && rawFrom >= 0) {
        window.set(rawFrom, rawUntil - rawFrom)
        sink.text(window, off(textStart), off(textEnd))
        rawFrom = -1; rawUntil = -1
      } else {
        materializeRaw()
        if (text.length > 0) {
          sink.text(text, off(textStart), off(textEnd))
          text.setLength(0)
        }
      }
      textStart = -1; textEnd = -1
    }
    @inline def addText(str: String, cs: Int, ce: Int): Unit = {
      if (text.length == 0 && rawFrom < 0) textStart = cs
      materializeRaw()
      text.append(str)
      textEnd = ce
    }
    // zero-copy variant for runs still sitting in the decode buffer
    @inline def addTextRaw(from: Int, until: Int): Unit = {
      if (text.length == 0 && rawFrom < 0) {
        textStart = from
        rawFrom = from; rawUntil = until
      } else {
        materializeRaw()
        text.append(s, from, until - from)
      }
      textEnd = until
    }

    var i = 0
    var rawMode: String = null // element name whose raw content we are in
    var rcdataMode = false
    val seq = new ArrayCharSeq(s, n) // shared view for entity decode
    val tag = ks.tagView

    // lit is lowercase ASCII; compare with ASCII case folding only
    @inline def lowerAt(pos: Int, lit: String): Boolean = {
      if (pos + lit.length > n) return false
      var k = 0
      while (k < lit.length) {
        val c = s(pos + k); val lc = lit.charAt(k)
        if (c != lc && (c < 'A' || c > 'Z' || (c + 32) != lc)) return false
        k += 1
      }
      true
    }

    while (i < n) {
      if (rawMode != null) {
        // consume until matching </name (rawMode is a lowercase name)
        val closeLen = rawMode.length + 2
        var j = i
        var found = -1
        while (found < 0 && j < n) {
          if (s(j) == '<' && j + 1 < n && s(j + 1) == '/' && lowerAt(j + 2, rawMode)) {
            val after = j + closeLen
            if (after >= n || s(after) == '>' || Character.isWhitespace(s(after)) || s(after) == '/') found = j
            else j += 1
          } else j += 1
        }
        val end = if (found >= 0) found else n
        if (end > i) {
          if (rcdataMode) {
            // entity-decode RCDATA (batched between '&'s)
            var k = i
            while (k < end) {
              if (s(k) == '&') {
                val (dec, len) = Entities.decodeAt(seq, k)
                addText(dec, k, math.min(k + len, end)); k += len
              } else {
                var j = k + 1
                while (j < end && s(j) != '&') j += 1
                addTextRaw(k, j); k = j
              }
            }
          } else {
            addTextRaw(i, end)
          }
        }
        flushText()
        if (found >= 0) {
          // consume the close tag
          var k = found + closeLen
          while (k < n && s(k) != '>') k += 1
          val endByteIdx = if (k < n) k + 1 else n
          sink.tagClose(rawMode, off(found), off(endByteIdx))
          i = endByteIdx
        } else i = n
        rawMode = null; rcdataMode = false
      } else {
        val c = s(i)
        if (c == '<') {
          if (i + 1 >= n) { addText("<", i, i + 1); i += 1 }
          else {
            val c1 = s(i + 1)
            if (c1 == '!') {
              flushText()
              if (lowerAt(i, "<!--")) {
                val close = indexOfLit(s, i + 4, n, "-->")
                val end = if (close >= 0) close + 3 else n
                sink.comment(s, i + 4, math.max(0, (if (close >= 0) close else n) - (i + 4)),
                  off(i), off(end))
                i = end
              } else if (lowerAt(i, "<![cdata[")) {
                val close = indexOfLit(s, i + 9, n, "]]>")
                val end = if (close >= 0) close + 3 else n
                // body appended straight from the decode buffer (flushText
                // emits the run [i, end) exactly as the String form did).
                // INTENTIONAL (ADVICE r3): an EMPTY `<![CDATA[]]>` emits no
                // text run at all — the pre-refactor tokenizer stretched a
                // preceding run's endByte over the empty marker, which put
                // markup bytes inside a text span; covered by the
                // FusedPathFuzzSpec "<![CDATA[]]>" atom.
                val bodyLen = math.max(0, (if (close >= 0) close else n) - (i + 9))
                if (bodyLen > 0) {
                  if (text.length == 0 && rawFrom < 0) textStart = i
                  materializeRaw()
                  text.append(s, i + 9, bodyLen)
                  textEnd = end
                }
                flushText()
                i = end
              } else { // doctype or bogus decl
                var j = i + 2
                while (j < n && s(j) != '>') j += 1
                val end = if (j < n) j + 1 else n
                sink.doctype(s, i + 2, math.max(0, j - (i + 2)), off(i), off(end))
                i = end
              }
            } else if (c1 == '?') { // bogus comment (processing instruction)
              flushText()
              var j = i + 2
              while (j < n && s(j) != '>') j += 1
              val end = if (j < n) j + 1 else n
              sink.comment(s, i + 2, math.max(0, j - (i + 2)), off(i), off(end))
              i = end
            } else if (c1 == '/') {
              if (i + 2 < n && Character.isLetter(s(i + 2))) {
                flushText()
                var j = i + 2
                while (j < n && s(j) != '>') j += 1
                val end = if (j < n) j + 1 else n
                var ne = i + 2
                while (ne < j && !Character.isWhitespace(s(ne))) ne += 1
                val name = lowerString(s, i + 2, math.max(0, ne - (i + 2)))
                sink.tagClose(name, off(i), off(end))
                i = end
              } else { addText("<", i, i + 1); i += 1 } // "</3" is text
            } else if (Character.isLetter(c1)) {
              flushText()
              i = parseStartTag(s, d, n, i, sink, tag)
              sink.tagOpen(tag)
              if (!tag.selfClosing) {
                val m = contentMode(tag.name)
                if ((m & FRawtext) != 0) { rawMode = tag.name; rcdataMode = false }
                else if ((m & FRcdata) != 0) { rawMode = tag.name; rcdataMode = true }
              }
            } else { addText("<", i, i + 1); i += 1 }
          }
        } else if (c == '&') {
          val (dec, len) = Entities.decodeAt(seq, i)
          addText(dec, i, i + len)
          i += len
        } else {
          // batch the plain-text run up to the next delimiter (hot path)
          var j = i + 1
          while (j < n && s(j) != '<' && s(j) != '&') j += 1
          addTextRaw(i, j)
          i = j
        }
      }
    }
    flushText()
  }

  /** Pre-seeded intern table for tag/attribute names: the ~80 names that
    * cover essentially every tag and attr a crawl serves. Hits return the
    * SAME String instance — no allocation per tag, and (bigger) the
    * instance's hashCode memoizes, so Dom's Set lookups stop re-hashing a
    * fresh string per token. The table is FIXED (never installs new
    * entries), so hostile unique-name floods cannot grow it; misses cost
    * one probe chain to the first null. */
  private final val InternMask = 511
  private val internTable: Array[String] = {
    val t = new Array[String](InternMask + 1)
    val names = Seq(
      // elements
      "a", "abbr", "address", "area", "article", "aside", "b", "base",
      "blockquote", "body", "br", "button", "caption", "code", "col", "dd",
      "details", "div", "dl", "dt", "em", "embed", "fieldset", "figcaption",
      "figure", "footer", "form", "h1", "h2", "h3", "h4", "h5", "h6", "head",
      "header", "hr", "html", "i", "iframe", "img", "input", "label",
      "legend", "li", "link", "main", "meta", "nav", "noscript", "object",
      "ol", "option", "p", "param", "pre", "script", "section", "select",
      "small", "source", "span", "strong", "style", "summary", "sup",
      "svg", "table", "tbody", "td", "template", "textarea", "tfoot", "th",
      "thead", "time", "title", "tr", "track", "u", "ul", "wbr",
      // attributes
      "class", "id", "href", "src", "style", "rel", "type", "name",
      "content", "charset", "alt", "title", "width", "height", "lang",
      "target", "value", "role", "data-src")
    names.foreach { n =>
      var slot = internHash(n) & InternMask
      var placed = false
      while (!placed) {
        if (t(slot) == null) { t(slot) = n; placed = true }
        else if (t(slot) == n) placed = true // dup seed (style, title)
        else slot = (slot + 1) & InternMask
      }
    }
    t
  }
  @inline private def internHash(s: String): Int = {
    var h = 5381; var i = 0
    while (i < s.length) { h = h * 33 + s.charAt(i); i += 1 }
    h
  }

  /** ASCII-lowercased string from a char range — the HTML5 tag/attr name
    * rule (ASCII case-insensitivity only). Common names come from the
    * intern table (no allocation, memoized hash); the rest allocate as
    * before. */
  private def lowerString(a: Array[Char], from: Int, len: Int): String = {
    // single pass: case-folded intern hash + uppercase detection
    var h = 5381
    var hasUpper = false
    var k = 0
    while (k < len) {
      var c = a(from + k)
      if (c >= 'A' && c <= 'Z') { hasUpper = true; c = (c + 32).toChar }
      h = h * 33 + c
      k += 1
    }
    var slot = h & InternMask
    var entry = internTable(slot)
    while (entry != null) {
      if (entry.length == len) {
        var j = 0
        var eq = true
        while (eq && j < len) {
          var c = a(from + j)
          if (c >= 'A' && c <= 'Z') c = (c + 32).toChar
          if (c != entry.charAt(j)) eq = false
          j += 1
        }
        if (eq) return entry
      }
      slot = (slot + 1) & InternMask
      entry = internTable(slot)
    }
    if (!hasUpper) new String(a, from, len)
    else {
      val out = new Array[Char](len); var j = 0
      while (j < len) {
        val c = a(from + j)
        out(j) = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
        j += 1
      }
      new String(out)
    }
  }

  private def indexOfLit(s: Array[Char], from: Int, n: Int, lit: String): Int = {
    var i = from
    while (i + lit.length <= n) {
      var k = 0
      var ok = true
      while (ok && k < lit.length) { if (s(i + k) != lit.charAt(k)) ok = false; k += 1 }
      if (ok) return i
      i += 1
    }
    -1
  }

  /** ASCII fast paths — exact-equivalent to the Character methods for
    * c < 128 (r6b: the virtual CharacterData dispatch showed in the
    * per-tag scan profile); non-ASCII falls through to the JDK. */
  @inline private def isWs(c: Char): Boolean =
    if (c < 128) c == ' ' || (c >= 9 && c <= 13) || (c >= 28 && c <= 31)
    else Character.isWhitespace(c)
  @inline private def isLetterOrDigitF(c: Char): Boolean =
    if (c < 128) (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')
    else Character.isLetterOrDigit(c)

  /** Parse `<name attr=... >` starting at `i0` (s(i0)=='<') into the
    * view `v`; returns the char index after '>'. Lenient at EOF. */
  private def parseStartTag(s: Array[Char], d: Decoded, n: Int, i0: Int,
      sink: TokenSink, v: TagView): Int = {
    var i = i0 + 1
    val nameStart = i
    while (i < n && (isLetterOrDigitF(s(i)) || s(i) == '-' || s(i) == ':')) i += 1
    val name = lowerString(s, nameStart, i - nameStart)
    v.start(name)
    // r6b: sinks that never read this tag's attributes (BlockSink on
    // inline tags — a/span/b/img carry the bulk of crawl attrs) skip
    // the name strings and value copies entirely; the scan movement
    // below is IDENTICAL either way.
    val want = sink.wantsAttrs(name)
    var selfClosing = false
    var done = false
    while (!done && i < n) {
      while (i < n && isWs(s(i))) i += 1
      if (i >= n) done = true
      else if (s(i) == '>') { i += 1; done = true }
      else if (s(i) == '/') {
        i += 1
        if (i < n && s(i) == '>') { selfClosing = true; i += 1; done = true }
      } else {
        // attribute name
        val as = i
        while (i < n && !isWs(s(i)) && s(i) != '=' && s(i) != '>' && s(i) != '/') i += 1
        val aname = if (want && i > as) lowerString(s, as, i - as) else null
        while (i < n && isWs(s(i))) i += 1
        var vs = i // value range [vs, ve): empty unless '=' follows
        var ve = i
        if (i < n && s(i) == '=') {
          i += 1
          while (i < n && isWs(s(i))) i += 1
          if (i < n && (s(i) == '"' || s(i) == '\'')) {
            val q = s(i); i += 1
            vs = i
            while (i < n && s(i) != q) i += 1
            ve = i
            if (i < n) i += 1
          } else {
            vs = i
            while (i < n && !isWs(s(i)) && s(i) != '>') i += 1
            ve = i
          }
        }
        if (aname != null) {
          var amp = vs
          while (amp < ve && s(amp) != '&') amp += 1
          if (amp == ve) v.addAttr(aname, s, vs, ve - vs)
          else v.addAttr(aname, decodeEntities(new String(s, vs, ve - vs)))
        }
      }
    }
    v.end(selfClosing, d.off(i0), d.off(math.min(i, n)))
    i
  }

  def decodeEntities(v: String): String = {
    if (v.indexOf('&') < 0) return v
    val b = new StringBuilder(v.length)
    var i = 0
    while (i < v.length) {
      if (v.charAt(i) == '&') {
        val (dec, len) = Entities.decodeAt(v, i)
        b.append(dec); i += len
      } else { b.append(v.charAt(i)); i += 1 }
    }
    b.toString
  }

  private final class ArrayCharSeq(a: Array[Char], n: Int) extends CharSequence {
    def length: Int = n
    def charAt(i: Int): Char = a(i)
    def subSequence(s: Int, e: Int): CharSequence = new String(a, s, e - s)
    override def toString: String = new String(a, 0, n)
  }

  /** Bulk append of a sink text buffer into a builder: CharWindow goes
    * through the char[] fast path (StringBuilder's generic CharSequence
    * append is per-char). */
  @inline def appendTo(b: java.lang.StringBuilder, cs: CharSequence): Unit = cs match {
    case w: CharWindow => b.append(w.arr, w.from, w.length)
    case _             => b.append(cs)
  }

  /** Reusable window view over the decode buffer for single-segment
    * text runs (r6 zero-copy path). Valid only during the sink.text
    * call, like every text buffer this tokenizer hands out. Consumers
    * that bulk-copy (Dom's BlockSink) read `arr`/`from` directly. */
  final class CharWindow(val arr: Array[Char]) extends CharSequence {
    private var from0 = 0
    private var len0 = 0
    private[Html5Tokenizer] def set(from: Int, len: Int): Unit = { from0 = from; len0 = len }
    def from: Int = from0
    def length: Int = len0
    def charAt(i: Int): Char = arr(from0 + i)
    def subSequence(s: Int, e: Int): CharSequence = new String(arr, from0 + s, e - s)
    override def toString: String = new String(arr, from0, len0)
  }
}
