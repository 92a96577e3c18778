package graft.extract

import graft.html.{Dom, Html5Tokenizer, TagView}
import scala.collection.mutable.ArrayBuffer

/** HTML table → GitHub-flavored-markdown extraction — the web-payload
  * analog of the reference's formatted table output (GOT-OCR2.0's
  * format mode emits markdown/mathpix tables from document images,
  * GOT/demo/run_ocr_2.0.py OCR-format path; our input is crawl HTML, so
  * the structured-table signal comes from real `<table>` markup instead
  * of a vision model).
  *
  * Semantics (mirrors the Dom block-builder's table discipline, byte
  * offsets aside):
  *  - row/cell structure tracked at table depth 1 only; a NESTED
  *    table's text folds into the enclosing cell (crawl HTML nests
  *    layout tables everywhere);
  *  - cell text is entity-decoded by the tokenizer and
  *    whitespace-normalized ([[Dom.normalize]]);
  *  - `colspan=k` flattens to the cell followed by k-1 empty cells
  *    (k clamped to [1,16]); `rowspan` is ignored — the cell appears
  *    in its first row only (documented md-flattening convention);
  *  - the table's markdown header is the longest prefix of rows made
  *    entirely of `<th>` cells (0 rows → a synthesized empty header,
  *    GFM requires one); all rows pad to the widest row;
  *  - `|` in a cell escapes to `\|`; newlines are already collapsed
  *    by normalization; other characters pass through;
  *  - unclosed cells/rows/tables close at EOF (truncated-payload
  *    leniency, same as the extraction kernel).
  *
  * Scale shape: pure map over the payload via the streaming tokenizer
  * (no DOM build, no token list); emits one row per table map-side —
  * the Outlinks fan-out shape, shuffle-free until the caller's
  * aggregate.
  */
object TableMd {

  /** One extracted table: colspan-expanded cell grid, number of leading
    * all-`<th>` header rows, and the rendered GFM markdown. */
  final case class Table(rows: Vector[Vector[String]], headerRows: Int,
      markdown: String)

  private def esc(cell: String): String = cell.replace("|", "\\|")

  /** Render a cell grid as GFM: header (real or synthesized-empty),
    * `---` separator, body; every row padded to the widest row. */
  def render(rows: Vector[Vector[String]], headerRows: Int): String = {
    val width = rows.map(_.length).max
    def line(cells: Vector[String]): String =
      (cells ++ Vector.fill(width - cells.length)(""))
        .map(c => s" ${esc(c)} ").mkString("|", "|", "|")
    val sep = Vector.fill(width)("---").map(c => s" $c ").mkString("|", "|", "|")
    val (header, body) =
      if (headerRows > 0) (rows.take(headerRows).map(line), rows.drop(headerRows))
      else (Vector(line(Vector.fill(width)(""))), rows)
    (header ++ Vector(sep) ++ body.map(line)).mkString("\n")
  }

  /** Extract every top-level table from an HTML payload. Non-HTML
    * payloads (magic-byte dispatch) yield no tables. */
  def extract(bytes: Array[Byte]): Seq[Table] = {
    if (Extractor.payloadKind(bytes) != "html") return Nil
    val out = ArrayBuffer.empty[Table]
    class TableSink extends Html5Tokenizer.TokenSink {
      private var depth = 0
      private val rows = ArrayBuffer.empty[Vector[String]]
      private val rowIsTh = ArrayBuffer.empty[Boolean]
      private val row = ArrayBuffer.empty[String]
      private val cell = new java.lang.StringBuilder
      private var inCell = false
      private var cellTh = false
      private var rowAllTh = true
      private var cellPad = 0 // colspan-1 empty cells to append

      private def closeCell(): Unit = if (inCell) {
        row += Dom.normalize(cell)
        var i = 0
        while (i < cellPad) { row += ""; i += 1 }
        if (!cellTh) rowAllTh = false
        inCell = false
      }
      private def closeRow(): Unit = {
        closeCell()
        if (row.nonEmpty) {
          rows += row.toVector
          rowIsTh += rowAllTh
          row.clear()
        }
        rowAllTh = true
      }
      private def closeTable(): Unit = {
        closeRow()
        if (rows.nonEmpty) {
          val grid = rows.toVector
          val header = rowIsTh.takeWhile(identity).length
          out += Table(grid, header, render(grid, header))
        }
        rows.clear(); rowIsTh.clear()
      }

      /** Unwind any unclosed table at EOF. */
      def finish(): Unit = while (depth > 0) {
        depth -= 1
        if (depth == 0) closeTable()
      }

      def tagOpen(t: TagView): Unit = t.name match {
        case "table" if !t.selfClosing =>
          if (depth == 0) { rows.clear(); rowIsTh.clear(); row.clear()
            cell.setLength(0); inCell = false; rowAllTh = true }
          depth += 1
        case "td" | "th" if depth == 1 =>
          closeCell()
          inCell = true; cellTh = t.name == "th"; cell.setLength(0)
          val cs = t.attrOrEmpty("colspan")
          cellPad =
            if (cs.isEmpty || !cs.forall(_.isDigit)) 0
            else math.max(1, math.min(16, cs.toInt)) - 1
        case "tr" if depth == 1 => closeRow()
        case "br" if depth >= 1 => if (inCell) cell.append(' ')
        case _ => ()
      }
      def tagClose(name: String, startByte: Int, endByte: Int): Unit =
        name match {
          case "table" if depth > 0 =>
            depth -= 1
            if (depth == 0) closeTable()
          case "td" | "th" if depth == 1 => closeCell()
          case "tr" if depth == 1        => closeRow()
          case _                         => ()
        }
      def text(buf: CharSequence, startByte: Int, endByte: Int): Unit =
        if (depth >= 1 && inCell) cell.append(buf)
      def comment(c: Array[Char], f: Int, l: Int, sb: Int, eb: Int): Unit = ()
      def doctype(c: Array[Char], f: Int, l: Int, sb: Int, eb: Int): Unit = ()
    }
    val sink = new TableSink
    Html5Tokenizer.stream(bytes, sink)
    // EOF closes any open table (truncated payloads keep complete rows)
    sink.finish()
    out.toSeq
  }
}
