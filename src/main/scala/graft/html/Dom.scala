package graft.html

import scala.collection.mutable.ArrayBuffer

/** A flat content block — the unit the density classifier scores; an
  * owned copy of one `BlockTable` row (`BlockTable.block`).
  *
  * `text` is the normalized block text (the single normalization point,
  * SURVEY.md §7 hard-part (b)): entities decoded (tokenizer), whitespace
  * runs collapsed to one space, `<br>` → '\n', trimmed. `<pre>` blocks
  * skip collapsing (one leading newline stripped, HTML5 rule).
  *
  * `startByte`/`endByte` span the raw source region of the block's text
  * (first to last non-whitespace text run); `elemStartByte`/`elemEndByte`
  * span the whole element including its tags. `words` is the separator
  * (' '/'\n') count of `text` plus one, 0 for empty text — counted by
  * the builder while it writes the text.
  */
final case class Block(
    kind: String,
    text: String,
    cells: Vector[Vector[String]],
    cls: String,
    style: String,
    linkChars: Int,
    totalChars: Int,
    inBoilerplateContainer: Boolean,
    startByte: Long,
    endByte: Long,
    elemStartByte: Long,
    elemEndByte: Long,
    words: Int) {
  def linkDensity: Double =
    if (totalChars == 0) 0.0 else linkChars.toDouble / totalChars.toDouble
  def headingLevel: Int = Block.headingLevel(kind)
}

object Block {
  /** 1-6 for h1-h6, else 0. */
  def headingLevel(kind: String): Int =
    if (kind.length == 2 && kind.charAt(0) == 'h' && kind.charAt(1).isDigit) kind.charAt(1) - '0' else 0
}

/** Builds the flat block list from the token stream — the lightweight
  * "DOM" (SURVEY.md §7 module `html/Dom.scala`). No tree is materialized;
  * a tag stack tracks ancestry, which is all the classifier needs.
  */
object Dom {
  /** Elements that start a new block. */
  private val blockTags = Set("p", "h1", "h2", "h3", "h4", "h5", "h6", "li",
    "pre", "blockquote", "div", "section", "article", "main", "nav",
    "header", "footer", "aside", "ul", "ol", "dl", "dt", "dd", "figure",
    "figcaption", "caption", "body", "tr", "hr", "address", "details", "summary")
  /** Elements whose entire content is suppressed (never content). */
  private val suppressTags = Set("script", "style", "noscript", "template",
    "svg", "head", "title", "textarea", "select", "button", "iframe",
    "object", "xmp", "noembed", "noframes")
  /** Semantic-HTML5 boilerplate containers (classifier hard-drop). */
  private val boilerContainers = Set("nav", "footer", "aside", "header", "form")

  // r6: per-tag role flags resolved with ONE open-addressing probe
  // instead of 3-4 immutable-Set lookups per tag event (Set.contains +
  // String hashing walked the hash trie for every open AND close tag —
  // ~10% of html kernel in the JFR profile). The table is seeded from
  // the Sets above (which stay the source of truth); any name absent
  // from every set probes to a null slot and returns 0. Same djb2 hash
  // as the tokenizer's intern table; interned names hit the `eq`
  // fast path.
  private final val FSuppress = 1
  private final val FBlock = 2
  private final val FBoiler = 4
  private final val FVoid = 8
  private final val FlagMask = 255
  private val flagNames = new Array[String](FlagMask + 1)
  private val flagVals = new Array[Int](FlagMask + 1)
  locally {
    def add(n: String, f: Int): Unit = {
      var h = 5381; var i = 0
      while (i < n.length) { h = h * 33 + n.charAt(i); i += 1 }
      var slot = h & FlagMask
      while (flagNames(slot) != null && flagNames(slot) != n)
        slot = (slot + 1) & FlagMask
      flagNames(slot) = n
      flagVals(slot) |= f
    }
    suppressTags.foreach(add(_, FSuppress))
    blockTags.foreach(add(_, FBlock))
    boilerContainers.foreach(add(_, FBoiler))
    Html5Tokenizer.voidElements.foreach(add(_, FVoid))
  }
  @inline private def tagFlags(name: String): Int = {
    var h = 5381; var i = 0
    while (i < name.length) { h = h * 33 + name.charAt(i); i += 1 }
    var slot = h & FlagMask
    var e = flagNames(slot)
    while (e != null) {
      if ((e eq name) || e == name) return flagVals(slot)
      slot = (slot + 1) & FlagMask
      e = flagNames(slot)
    }
    0
  }

  private final val BrSentinel = '\u0001'

  // r6b: char-class table for normalizeArr's inner loop — one bounds
  // check + load + compare on the common (regular-char) path instead
  // of the sentinel + five whitespace comparisons. 0=regular, 1=ws,
  // 2=BR sentinel; chars >= 256 are always regular (the ws set and the
  // sentinel are all < 256).
  private val normCls: Array[Byte] = {
    val t = new Array[Byte](256)
    t(' ') = 1; t('\t') = 1; t('\n') = 1; t('\r') = 1; t('\f') = 1
    t(BrSentinel) = 2
    t
  }

  /** Collapse [ \t\n\r\f]+ → ' ', honor BR sentinels as hard newlines;
    * leading/trailing hard newlines are stripped. Single streaming pass
    * (no regex, no intermediate strings). */
  private[graft] def normalize(raw: CharSequence): String =
    normalize(raw, KernelScratch.get())

  /** `ks` carries the flat scratch array: input copy in [0, len), output
    * in [len, len + outLen) — a bulk getChars plus a primitive write loop
    * instead of per-char virtual charAt + StringBuilder appends; fully
    * consumed before return, so per-thread reuse is safe. Callers inside
    * a kernel call pass their own scratch (r6b: a ThreadLocal.get per
    * block was itself hot on executor threads — Spark threads carry long
    * ThreadLocalMap probe chains). */
  private[graft] def normalize(raw: CharSequence, ks: KernelScratch): String = {
    val len = raw.length
    if (len == 0) return ""
    var buf = ks.normBuf
    if (buf.length < 2 * len) {
      buf = new Array[Char](2 * len + (len >> 1))
      ks.normBuf = buf
    }
    raw match {
      case sb: java.lang.StringBuilder => sb.getChars(0, len, buf, 0)
      case s: String                   => s.getChars(0, len, buf, 0)
      case _ =>
        var ci = 0
        while (ci < len) { buf(ci) = raw.charAt(ci); ci += 1 }
    }
    new String(buf, len, normalizeInto(buf, len, buf, len, null))
  }

  /** The normalization loop: reads `src[0, len)` and writes the collapsed
    * text to `dst` from index `at`, returning its length (never more than
    * `len`; `dst` may be `src` when `at >= len`). `sepsOut(0)`, when
    * non-null, receives the separator (' '/'\n') count of the written
    * text — counted on the emit branches only (r6b), so a block's word
    * count needs no second scan. */
  private def normalizeInto(src: Array[Char], len: Int, dst: Array[Char], at: Int,
      sepsOut: Array[Int]): Int = {
    var k = 0     // output length
    var seps = 0  // ' ' + '\n' emitted (word separators)
    var ws = false
    var i = 0
    while (i < len) {
      val c = src(i)
      val cls = if (c < 256) normCls(c) else 0
      if (cls == 0) {
        if (ws && k > 0 && dst(at + k - 1) != '\n') { dst(at + k) = ' '; k += 1; seps += 1 }
        ws = false
        dst(at + k) = c; k += 1
      } else if (cls == 1) {
        ws = true
      } else { // BR sentinel
        if (k > 0) { dst(at + k) = '\n'; k += 1; seps += 1 } // skip leading hard newlines
        ws = false
      }
      i += 1
    }
    while (k > 0 && dst(at + k - 1) == '\n') { k -= 1; seps -= 1 }
    if (sepsOut != null) sepsOut(0) = seps
    k
  }

  /** Replay a materialized token list into the block builder — kept for
    * tests and callers that already hold tokens; the extraction kernel
    * streams (no token list, one pass). Both feed ONE builder
    * (`BlockSink`), so they cannot diverge. */
  def blocks(tokens: scala.collection.IndexedSeq[HtmlToken]): Vector[Block] = {
    val ks = KernelScratch.get()
    val sink = ks.blockSink
    sink.reset()
    var ti = 0
    val tn = tokens.length
    while (ti < tn) {
      tokens(ti) match {
        case t: TagOpen  => sink.tagOpen(ks.tagView.load(t))
        case t: TagClose => sink.tagClose(t.name, t.startByte, t.endByte)
        case t: TextRun  => sink.text(t.text, t.startByte, t.endByte)
        case _           => () // comments, doctype
      }
      ti += 1
    }
    sink.finish().toBlocks
  }

  /** Fused path: bytes → blocks in one scan, no token materialization
    * (the per-doc token array, TextRun strings and comment bodies were
    * ~40% of html kernel cost — DiagPhase). The owned-`Block` form of
    * `blockTable`, for callers that keep blocks past the kernel call. */
  def blocksStreaming(bytes: Array[Byte]): Vector[Block] =
    blockTable(bytes, KernelScratch.get()).toBlocks

  /** The extraction kernel's form: the document's blocks as rows of
    * `ks.blocks`, valid until the next kernel call on this thread — no
    * `String` and no `Block` per block. */
  private[graft] def blockTable(bytes: Array[Byte], ks: KernelScratch): BlockTable = {
    val sink = ks.blockSink
    sink.reset()
    Html5Tokenizer.stream(bytes, sink, ks)
    sink.finish()
  }

  /** The single block-building state machine, fed by tokenizer events.
    * One per thread (`KernelScratch.blockSink`), reset per document; it
    * writes each block as one row of `ks.blocks`, its normalized text
    * straight into the table's arena. */
  final class BlockSink private[html] (ks: KernelScratch) extends Html5Tokenizer.TokenSink {

    /** The sink reads attributes only on table (class) and block-start
      * tags (class/style via startBlock) — inline tags (a/span/b/img,
      * which carry most crawl-HTML attributes, href above all) skip
      * attr string construction in the tokenizer entirely (r6b). */
    override def wantsAttrs(name: String): Boolean =
      name == "table" || (tagFlags(name) & FBlock) != 0

    private val tbl = ks.blocks

    private var suppressDepth = 0
    private var boilerDepth = 0
    private var linkDepth = 0
    // open block tags; searched from the top with a plain loop
    private var stack = new Array[String](32)
    private var depth = 0

    // current block accumulation; cls/style are arena refs
    private var curKind = "body"
    private var curCls = 0L
    private var curStyle = 0L
    private var curElemStart = 0L
    // Flat char accumulator for the current block's raw text (r6b):
    // appends by arraycopy, and normalization reads it in place.
    private var tBuf = new Array[Char](8 * 1024)
    private var tLen = 0
    private def tEnsure(extra: Int): Unit =
      if (tLen + extra > tBuf.length) {
        val n = new Array[Char](math.max(tBuf.length * 2, tLen + extra))
        System.arraycopy(tBuf, 0, n, 0, tLen)
        tBuf = n
      }
    private def tAppend(c: Char): Unit = { tEnsure(1); tBuf(tLen) = c; tLen += 1 }
    private def tAppend(cs: CharSequence): Unit = cs match {
      case w: Html5Tokenizer.CharWindow =>
        val l = w.length
        tEnsure(l); System.arraycopy(w.arr, w.from, tBuf, tLen, l); tLen += l
      case str: String =>
        val l = str.length
        tEnsure(l); str.getChars(0, l, tBuf, tLen); tLen += l
      case sb: java.lang.StringBuilder =>
        val l = sb.length
        tEnsure(l); sb.getChars(0, l, tBuf, tLen); tLen += l
      case _ =>
        val l = cs.length
        tEnsure(l)
        var i = 0
        while (i < l) { tBuf(tLen + i) = cs.charAt(i); i += 1 }
        tLen += l
    }
    private var curLink = 0
    private var spanStart = -1L
    private var spanEnd = -1L
    private var curPre = false

    // table accumulation
    private var tableDepth = 0
    private var tblCls = 0L
    private var tblElemStart = 0L
    private val tblRows = new ArrayBuffer[Vector[String]]
    private val tblRow = new ArrayBuffer[String]
    private val tblCell = new java.lang.StringBuilder
    private var inCell = false
    private var tblSpanStart = -1L
    private var tblSpanEnd = -1L

    private val sepsBox = new Array[Int](1)

    /** Start of a document: empty table, builder state as constructed. */
    private[html] def reset(): Unit = {
      tbl.clear()
      suppressDepth = 0; boilerDepth = 0; linkDepth = 0; depth = 0
      startBlock("body", 0L, 0L, 0L)
      tLen = 0; curLink = 0; spanStart = -1L; spanEnd = -1L
      tableDepth = 0; tblCls = 0L; tblElemStart = 0L
      tblRows.clear(); tblRow.clear(); tblCell.setLength(0); inCell = false
      tblSpanStart = -1L; tblSpanEnd = -1L
    }

    /** End of a document: flushes the open block; the table is complete. */
    def finish(): BlockTable = {
      flush(0L)
      tbl
    }

    private def addRow(kind: String, off: Int, len: Int, words: Int, link: Int,
        start: Long, end: Long, elemStart: Long, elemEnd: Long, cls: Long,
        style: Long, cells: Vector[Vector[String]]): Unit = {
      val r = tbl.addRow()
      tbl.kind(r) = kind; tbl.textOff(r) = off; tbl.textLen(r) = len
      tbl.words(r) = words; tbl.linkChars(r) = link; tbl.boiler(r) = boilerDepth > 0
      tbl.startByte(r) = start; tbl.endByte(r) = end
      tbl.elemStartByte(r) = elemStart; tbl.elemEndByte(r) = elemEnd
      tbl.cls(r) = cls; tbl.style(r) = style; tbl.cells(r) = cells
    }

    private def flush(elemEnd: Long): Unit = {
      tbl.ensureArena(tLen) // normalized text is never longer than raw
      val a = tbl.arena
      val off = tbl.arenaLen
      var len = 0
      var seps = 0
      if (curPre) {
        // no collapsing: BR sentinels become '\n', one leading newline
        // is stripped; the copy also counts separators
        var i = if (tLen > 0 && tBuf(0) == '\n') 1 else 0
        while (i < tLen) {
          val c = if (tBuf(i) == BrSentinel) '\n' else tBuf(i)
          if (c == ' ' || c == '\n') seps += 1
          a(off + len) = c; len += 1
          i += 1
        }
      } else {
        len = normalizeInto(tBuf, tLen, a, off, sepsBox)
        seps = sepsBox(0)
      }
      if (len > 0) {
        tbl.arenaLen += len
        addRow(curKind, off, len, seps + 1, curLink, spanStart, spanEnd, curElemStart,
          if (elemEnd > 0) elemEnd else spanEnd, curCls, curStyle, null)
      }
      tLen = 0; curLink = 0; spanStart = -1L; spanEnd = -1L
    }

    /** A table block: cells joined by ' ', rows by '\n', written straight
      * into the arena. Unlike other blocks it is kept with empty text. */
    private def addTable(rows: Vector[Vector[String]], elemEnd: Long): Unit = {
      val from = tbl.arenaLen
      var ri = 0
      while (ri < rows.length) {
        if (ri > 0) arenaPut("\n")
        val row = rows(ri)
        var ci = 0
        while (ci < row.length) { if (ci > 0) arenaPut(" "); arenaPut(row(ci)); ci += 1 }
        ri += 1
      }
      var seps = 0
      var i = from
      while (i < tbl.arenaLen) {
        val c = tbl.arena(i)
        if (c == ' ' || c == '\n') seps += 1
        i += 1
      }
      val len = tbl.arenaLen - from
      addRow("table", from, len, if (len == 0) 0 else seps + 1, 0, tblSpanStart, tblSpanEnd,
        tblElemStart, elemEnd, tblCls, 0L, rows)
    }

    private def arenaPut(s: String): Unit = {
      tbl.ensureArena(s.length)
      s.getChars(0, s.length, tbl.arena, tbl.arenaLen)
      tbl.arenaLen += s.length
    }

    /** Attribute `k` of `t` copied into the arena, as a ref (0 if absent
      * or empty). */
    private def attrRef(t: TagView, k: String): Long = {
      val i = t.attrIndex(k)
      if (i < 0) 0L else tbl.appendRef(t.valueChars, t.valueOff(i), t.valueLen(i))
    }

    private def startBlock(kind: String, cls: Long, style: Long, elemStart: Long): Unit = {
      curKind = kind; curCls = cls; curStyle = style
      curElemStart = elemStart
      curPre = kind == "pre"
    }

    private def enclosingKind: String = if (depth > 0) stack(depth - 1) else "body"

    private def hasNonWs(s: CharSequence): Boolean = {
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c != ' ' && c != '\t' && c != '\n' && c != '\r' && c != '\f') return true
        i += 1
      }
      false
    }

    def comment(chars: Array[Char], from: Int, len: Int, startByte: Int, endByte: Int): Unit = ()
    def doctype(chars: Array[Char], from: Int, len: Int, startByte: Int, endByte: Int): Unit = ()

    def tagOpen(t: TagView): Unit = {
        val name = t.name
        val fl = tagFlags(name)
        if ((fl & FSuppress) != 0) {
          if (!t.selfClosing && (fl & FVoid) == 0) suppressDepth += 1
        } else if (suppressDepth == 0) {
          if (name == "table") {
            if (tableDepth == 0) {
              flush(0L)
              tblCls = attrRef(t, "class")
              tblElemStart = t.startByte.toLong
              tblRows.clear(); tblRow.clear(); tblCell.setLength(0); inCell = false
              tblSpanStart = -1L; tblSpanEnd = -1L
            }
            tableDepth += 1
          } else if (tableDepth > 0) {
            // row/cell structure is tracked at depth 1 only: a NESTED
            // table's td/tr must not clear the outer row or cell —
            // its text folds into the enclosing cell (layout-table
            // nesting is ubiquitous in real crawl HTML)
            name match {
              case "td" | "th" if tableDepth == 1 => inCell = true; tblCell.setLength(0)
              case "tr" if tableDepth == 1        => tblRow.clear()
              case "br"                           => if (inCell) tblCell.append(' ')
              case _                              => ()
            }
          } else if (name == "br") {
            tAppend(BrSentinel)
          } else if (name == "a") {
            linkDepth += 1
            // links never nest in practice; guard runaway depth
            if (linkDepth > 32) linkDepth = 32
          } else if ((fl & FBlock) != 0) {
            flush(0L)
            if ((fl & FBoiler) != 0) boilerDepth += 1
            if (depth == stack.length) stack = java.util.Arrays.copyOf(stack, 2 * depth)
            stack(depth) = name; depth += 1
            startBlock(name, attrRef(t, "class"), attrRef(t, "style"), t.startByte.toLong)
          }
          // other inline tags (b, i, em, span, code, …) are transparent
        }
    }

    def tagClose(name: String, startByte: Int, endByte: Int): Unit = {
        val fl = tagFlags(name)
        if ((fl & FSuppress) != 0) {
          if (suppressDepth > 0) suppressDepth -= 1
        } else if (suppressDepth == 0) {
          if (name == "table") {
            if (tableDepth > 0) tableDepth -= 1
            if (tableDepth == 0) {
              if (tblRow.nonEmpty) { tblRows += tblRow.toVector; tblRow.clear() }
              if (tblRows.nonEmpty) addTable(tblRows.toVector, endByte.toLong)
              startBlock(enclosingKind, 0L, 0L, endByte.toLong)
            }
          } else if (tableDepth > 0) {
            name match {
              case "td" | "th" if tableDepth == 1 =>
                if (inCell) { tblRow += normalize(tblCell, ks); inCell = false }
              case "tr" if tableDepth == 1 =>
                if (tblRow.nonEmpty) { tblRows += tblRow.toVector; tblRow.clear() }
              case _ => ()
            }
          } else if (name == "a") {
            if (linkDepth > 0) linkDepth -= 1
          } else if ((fl & FBlock) != 0) {
            flush(endByte.toLong)
            if ((fl & FBoiler) != 0 && boilerDepth > 0) boilerDepth -= 1
            var idx = depth - 1
            while (idx >= 0 && stack(idx) != name) idx -= 1
            if (idx >= 0) depth = idx
            startBlock(enclosingKind, 0L, 0L, endByte.toLong)
          }
        }
    }

    def text(cs: CharSequence, startByte: Int, endByte: Int): Unit = {
        if (suppressDepth == 0) {
          if (tableDepth > 0) {
            if (inCell) {
              Html5Tokenizer.appendTo(tblCell, cs)
              if (hasNonWs(cs)) {
                if (tblSpanStart < 0) tblSpanStart = startByte.toLong
                tblSpanEnd = endByte.toLong
              }
            }
          } else {
            tAppend(cs)
            if (linkDepth > 0) curLink += cs.length
            if (hasNonWs(cs)) {
              if (spanStart < 0) spanStart = startByte.toLong
              spanEnd = endByte.toLong
            }
          }
        }
    }
  }
}
