package graft.extract

import graft.classify.BlockClassifier
import graft.html.{Block, BlockTable, Dom, KernelScratch}
import graft.pdf.PdfParser
import java.nio.charset.StandardCharsets.UTF_8

/** Byte span into the ORIGINAL payload (BASELINE.json: span offsets). */
final case class Span(start: Long, end: Long, kind: String)

/** Fixed-width per-doc metrics. A struct, deliberately NOT a
  * Map[String,Long]: at 10^12 rows a map costs ~8 allocated UTF8String
  * keys + boxed values per row in Catalyst serialization; a struct costs
  * zero per-row allocations and stays codegen-friendly. */
final case class DocMetrics(bytes_in: Long, is_pdf: Long, blocks_total: Long,
    blocks_kept: Long, blocks_dropped: Long, kept_chars: Long, out_chars: Long)

object DocMetrics {
  def quarantined(bytesIn: Long): DocMetrics = DocMetrics(bytesIn, 0L, 0L, 0L, 0L, 0L, 0L)
}

final case class ExtractResult(text: String, spans: Vector[Span],
    metrics: DocMetrics)

/** The extraction kernel — the deterministic replacement of the
  * reference's model forward pass (GOT/model/GOT_ocr_2_0.py:230-301).
  * Pure Scala, invoked from `mapPartitions` (SURVEY.md §2.10): one call
  * per (payload, mode), never throws — malformed payloads are returned
  * as Left(quarantine-reason), the engine's explicit version of the
  * reference's broken-image skip (conversation_dataset_qwen.py:226-252).
  */
object Extractor {

  /** Oversize guard (spill-awareness: kernel memory is O(doc)). */
  final val MaxDocBytes: Int = 16 << 20
  /** Output cap — the analog of the reference's max_new_tokens=4096
    * generation budget (run_ocr_2.0.py:144), in output chars. */
  final val MaxOutChars: Int = 1 << 20
  /** Repeated-block suppression threshold in words — the analog of the
    * reference's no_repeat_ngram_size=20 decode guard
    * (run_ocr_2.0.py:142): a block of ≥20 words whose exact text already
    * appeared in this document is emitted only once. */
  final val NoRepeatWords: Int = 20


  def payloadKind(bytes: Array[Byte]): String = {
    if (bytes.isEmpty) "empty"
    else if (PdfParser.isPdf(bytes)) "pdf"
    else {
      // binary sniff: NULs or a high control-byte ratio in the head
      val n = math.min(bytes.length, 512)
      var ctrl = 0
      var i = 0
      var hasNul = false
      while (i < n) {
        val b = bytes(i) & 0xff
        if (b == 0) hasNul = true
        if (b < 9 || (b > 13 && b < 32)) ctrl += 1
        i += 1
      }
      if (hasNul || ctrl * 5 > n) "binary" else "html"
    }
  }

  def extract(bytes: Array[Byte], mode: ExtractMode): Either[String, ExtractResult] = {
    try {
      if (bytes.length > MaxDocBytes) Left("too_large")
      else payloadKind(bytes) match {
        case "empty"  => Left("empty")
        case "binary" => Left("binary_payload")
        case "pdf"    => Right(extractPdf(bytes))
        case _        => Right(extractHtml(bytes, mode))
      }
    } catch {
      // never-throw contract: anything unexpected is quarantined
      case e: Throwable => Left("kernel_error:" + e.getClass.getSimpleName)
    }
  }

  private def extractPdf(bytes: Array[Byte]): ExtractResult = {
    val text0 = PdfParser.extractText(bytes)
    val text = if (text0.length > MaxOutChars) text0.substring(0, MaxOutChars) else text0
    ExtractResult(text,
      if (text.isEmpty) Vector.empty else Vector(Span(0L, bytes.length.toLong, "pdf")),
      DocMetrics(bytes.length.toLong, 1L, 0L, 0L, 0L, 0L, text.length.toLong))
  }

  private def extractHtml(bytes: Array[Byte], mode: ExtractMode): ExtractResult = {
    // ONE ThreadLocal fetch per document for all kernel scratch (r6b)
    val ks = KernelScratch.get()
    // fused: no token list (DiagPhase); blocks are rows over a char
    // arena, so nothing below builds a String or a Block per block
    val t = Dom.blockTable(bytes, ks)
    val arena = t.arena
    // mode-specific selection (density gate unless the user pointed at
    // a region — reference '[red] OCR:' / box prompts), applied to the
    // keep verdict the classifier computed ONCE per block
    var color: String = null
    var boxFrom = Long.MinValue
    var boxUntil = Long.MaxValue
    mode match {
      case ExtractMode.Color(c) => color = c
      case ExtractMode.Box(x1, x2) =>
        val (from, until) = ExtractMode.byteWindow(bytes.length.toLong, x1, x2)
        boxFrom = from; boxUntil = until
      case _ => ()
    }
    val format = mode == ExtractMode.Format
    // single pass: select -> repeat-suppress -> render -> span
    val sb = { val b = ks.outText; b.setLength(0); b } // thread-reused (r6b)
    val spans = Vector.newBuilder[Span]
    val seen = ks.repeats
    seen.clear()
    var kept = 0L; var dropped = 0L; var keptChars = 0L
    var r = 0
    while (r < t.n) {
      val isKeep = BlockClassifier.keep(t, r)
      if (isKeep) { kept += 1; keptChars += t.textLen(r) }
      else dropped += 1
      val selected =
        if (color != null)
          t.textLen(r) > 0 && !t.boiler(r) &&
            matchesColor(t.refString(t.cls(r)), t.refString(t.style(r)), color)
        else isKeep && t.startByte(r) >= boxFrom && t.endByte(r) <= boxUntil
      if (selected) {
        // a block of ≥ NoRepeatWords words whose text was already
        // emitted is a repeat; the set compares arena ranges by content
        val repeat = t.words(r) >= NoRepeatWords && !seen.add(arena, t.textOff(r), t.textLen(r))
        if (!repeat) {
          if (sb.length > 0) sb.append('\n')
          if (format) renderRow(sb, t, r) else sb.append(arena, t.textOff(r), t.textLen(r))
          spans += Span(t.startByte(r), t.endByte(r), t.kind(r))
        }
      }
      r += 1
    }
    var text = sb.toString
    if (format) text = repairLeftRight(text)
    if (text.length > MaxOutChars) text = text.substring(0, MaxOutChars)
    ExtractResult(text, spans.result(),
      DocMetrics(bytes.length.toLong, 0L, t.n.toLong,
        kept, dropped, keptChars, text.length.toLong))
  }

  private def matchesColor(cls: String, style: String, color: String): Boolean =
    cls == color || cls.split(' ').contains(color) ||
      style.replace(" ", "").contains("color:" + color)

  /** Structure-preserving rendering (Format mode) of row `r`, appended
    * in place: headings get markdown marks, list items get dashes,
    * quotes get '>', tables render as \begin{tabular} so the
    * reference's category-split regexes (eval_ocr.py:39-41: inline
    * \(..\), display \[..\], \begin{tabular}..\end{tabular}) classify
    * the output. */
  private def renderRow(sb: java.lang.StringBuilder, t: BlockTable, r: Int): Unit = {
    val kind = t.kind(r)
    val level = Block.headingLevel(kind)
    if (kind == "table" && t.cells(r).nonEmpty) sb.append(renderTabular(t.cells(r)))
    else {
      if (level > 0) { var i = 0; while (i < level) { sb.append('#'); i += 1 }; sb.append(' ') }
      else if (kind == "li") sb.append("- ")
      else if (kind == "blockquote") sb.append("> ")
      sb.append(t.arena, t.textOff(r), t.textLen(r))
    }
  }

  /** O4: emit an exact-duplicate long block only once. */
  def suppressRepeats(blocks: Vector[Block]): Vector[Block] = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    blocks.filter { b =>
      if (b.words < NoRepeatWords) true
      else seen.add(b.text)
    }
  }

  def renderTabular(cells: Vector[Vector[String]]): String = {
    val ncols = cells.map(_.length).max
    val spec = "c" * ncols
    val rows = cells.map(r => r.mkString(" & ") + " \\\\").mkString("\n")
    s"\\begin{tabular}{$spec}\n$rows\n\\end{tabular}"
  }

  /** Exact port of the reference's unbalanced \left/\right repair
    * (run_ocr_2.0.py:180-184): when the counts of literal "\left" and
    * "\right" differ, strip the delimiter forms pairwise. */
  def repairLeftRight(s: String): String = {
    val leftNum = countOccurrences(s, "\\left")
    val rightNum = countOccurrences(s, "\\right")
    if (leftNum == rightNum) s
    else s.replace("\\left(", "(").replace("\\right)", ")")
      .replace("\\left[", "[").replace("\\right]", "]")
      .replace("\\left{", "{").replace("\\right}", "}")
      .replace("\\left|", "|").replace("\\right|", "|")
      .replace("\\left.", ".").replace("\\right.", ".")
  }

  private[extract] def countOccurrences(s: String, sub: String): Int = {
    var c = 0; var i = s.indexOf(sub)
    while (i >= 0) { c += 1; i = s.indexOf(sub, i + sub.length) }
    c
  }

  def textBytes(r: ExtractResult): Array[Byte] = r.text.getBytes(UTF_8)
}
