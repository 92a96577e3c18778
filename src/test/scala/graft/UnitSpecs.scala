package graft

import graft.classify.BlockClassifier
import graft.extract.{Chunker, ExtractMode, Extractor}
import graft.html.{Dom, Html5Tokenizer}
import graft.pdf.{PdfParser, PdfWriter}
import graft.pipeline.{Metrics, Render}
import graft.util.{Hash64, SplitMix64}
import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite

class HashSpec extends AnyFunSuite {
  test("xxh64 matches the published test vectors") {
    // vectors from the public xxHash spec/repo
    assert(Hash64.xxh64(Array.emptyByteArray, 0L) == 0xef46db3751d8e999L)
    assert(Hash64.xxh64("a", 0L) == 0xd24ec4f1a98c6e5bL)
    assert(Hash64.xxh64("abc", 0L) == 0x44bc2cf5ad770999L)
    assert(Hash64.xxh64("as", 0L) == 0x1c330fb2d66be179L)
    // >32-byte path
    assert(Hash64.xxh64("xxhash is a fast non-cryptographic hash algorithm", 0L) !=
      Hash64.xxh64("xxhash is a fast non-cryptographic hash algorithn", 0L))
  }
  test("splitmix64 is deterministic per seed") {
    val a = new SplitMix64(42L); val b = new SplitMix64(42L)
    assert((0 until 100).map(_ => a.nextLong()) == (0 until 100).map(_ => b.nextLong()))
  }
}

class DomSpec extends AnyFunSuite {
  private def blocks(s: String) = Dom.blocks(Html5Tokenizer.tokenize(s.getBytes(UTF_8)))

  test("block segmentation: p, headings, list items, pre") {
    val b = blocks("<body><h1>T</h1><p>para one</p><ul><li>item alpha</li><li>item beta</li></ul><pre>a\n b</pre></body>")
    assert(b.map(_.kind) == Vector("h1", "p", "li", "li", "pre"))
    assert(b.map(_.text) == Vector("T", "para one", "item alpha", "item beta", "a\n b"))
  }

  test("whitespace collapse, br as hard newline, entities") {
    val b = blocks("<p>a\n   b\tc<br>d &amp; e</p>")
    assert(b.head.text == "a b c\nd & e")
  }

  test("pre strips one leading newline only") {
    assert(blocks("<pre>\nline1\nline2</pre>").head.text == "line1\nline2")
    assert(blocks("<pre>\n\nx</pre>").head.text == "\nx")
  }

  test("table cells and rows") {
    val b = blocks("<table><tr><td>a</td><td>b</td></tr><tr><td>c</td><td>d</td></tr></table>")
    assert(b.head.kind == "table")
    assert(b.head.cells == Vector(Vector("a", "b"), Vector("c", "d")))
    assert(b.head.text == "a b\nc d")
  }

  test("link density accounting") {
    val b = blocks("""<p>xxxx <a href="/">yyyy</a></p>""")
    assert(b.head.linkChars == 4)
    assert(b.head.totalChars == 9)
  }

  test("boilerplate containers flag blocks") {
    val b = blocks("<nav><li>home page link</li></nav><p>real content</p>")
    assert(b.map(x => (x.kind, x.inBoilerplateContainer)) ==
      Vector(("li", true), ("p", false)))
  }

  test("script/style/head content fully suppressed") {
    val b = blocks("<head><title>t</title><style>p{}</style></head><body><script>var x;</script><p>only this</p></body>")
    assert(b.map(_.text) == Vector("only this"))
  }

  test("classifier: drops link farms, short divs, keeps content") {
    val farm = blocks("""<div><a href="/">one</a> <a href="/">two</a> <a href="/">three words here</a></div>""").head
    assert(!BlockClassifier.keep(farm))
    val ad = blocks("""<div class="ad">Buy now today</div>""").head
    assert(!BlockClassifier.keep(ad))
    val content = blocks("<p>short but real paragraph</p>").head
    assert(BlockClassifier.keep(content))
    val freeDiv = blocks("<div>one two three four five six seven eight nine</div>").head
    assert(BlockClassifier.keep(freeDiv))
  }
}

class ChunkerSpec extends AnyFunSuite {
  test("findClosestAspectRatio ports the reference exactly (incl. tie-break)") {
    val ratios = Chunker.targetRatios(1, 6)
    // square image, small: ties between (1,1),(2,2) resolved by area rule
    assert(Chunker.findClosestAspectRatio(1.0, ratios, 800, 800, 1024) == (1, 1))
    // big square: area > 0.5*1024²*4 → prefers later tied ratio (2,2)... then (1,1)? area 3000² = 9e6 > 0.5*1024²*1*1 → each tie moves best forward
    assert(Chunker.findClosestAspectRatio(1.0, ratios, 3000, 3000, 1024) == (2, 2))
    // wide 3:1
    assert(Chunker.findClosestAspectRatio(3.0, ratios, 3072, 1024, 1024) == (3, 1))
    // tall 1:2
    assert(Chunker.findClosestAspectRatio(0.5, ratios, 512, 1024, 1024) == (1, 2))
  }

  test("targetRatios covers 1..6 area, sorted") {
    val r = Chunker.targetRatios(1, 6)
    assert(r.head == (1, 1))
    assert(r.forall { case (i, j) => i * j >= 1 && i * j <= 6 })
    assert(r.map { case (i, j) => i * j }.sliding(2).forall(s => s.head <= s.last))
  }

  test("segments: contiguous, order-preserving, ≤6, reassembly identity") {
    val r = new SplitMix64(7L)
    (0 until 50).foreach { _ =>
      val blocks = Vector.tabulate(1 + r.nextInt(60)) { i =>
        graft.html.Block("p", "x" * (1 + r.nextInt(800)) + i.toString, Vector.empty,
          "", "", 0, 10, false, 0, 0, 0, 0, 1)
      }
      val segs = Chunker.segments(blocks)
      assert(segs.length <= Chunker.MaxSegments)
      assert(segs.flatten == blocks) // identity under reassembly
      assert(segs.forall(_.nonEmpty) || blocks.isEmpty)
    }
  }
}

class PdfSpec extends AnyFunSuite {
  test("writer → parser round trip, incl escapes and TJ arrays") {
    val lines = Seq(
      "Plain line one.",
      "Parens (nested (deep)) and \\ backslash.",
      "Third line with TD.",
      "A fourth line split into TJ segments.",
      "Fifth T* line.")
    val pdf = PdfWriter.make(lines)
    assert(PdfParser.isPdf(pdf))
    assert(PdfParser.extractText(pdf) == lines.mkString("\n"))
  }

  test("string escapes: octal, newline continuation") {
    val (s, _) = PdfParser.parseString("(a\\101b\\\\c\\(d\\))", 0)
    assert(s == "aAb\\c(d)")
  }

  test("hex strings") {
    val (s, _) = PdfParser.parseHexString("<48656C6C6F>", 0)
    assert(s == "Hello")
  }

  test("hostile pdf bytes never throw") {
    val r = new SplitMix64(3L)
    (0 until 200).foreach { _ =>
      val junk = "%PDF-1.4\n".getBytes(UTF_8) ++
        Array.fill(r.nextInt(400))((r.nextLong() & 0xff).toByte)
      PdfParser.extractText(junk) // must not throw
    }
  }
}

class MetricsSpec extends AnyFunSuite {
  test("bleu: identity is 1.0, disjoint is 0.0") {
    val t = "the quick brown fox jumps over the lazy dog".split(" ")
    assert(math.abs(Metrics.bleu(t, t) - 1.0) < 1e-12)
    assert(Metrics.bleu(t, "совершенно other words entirely different here now".split(" ")) == 0.0)
  }

  test("bleu: clipped modified precision + brevity penalty (hand-computed)") {
    // ref: "a b c d e f g", hyp: "a b c d e f"  (all 6 hyp tokens match)
    // p1=6/6 p2=5/5 p3=4/4 p4=3/3, BP=exp(1-7/6)
    val ref = "a b c d e f g".split(" ")
    val hyp = "a b c d e f".split(" ")
    val expected = math.exp(1.0 - 7.0 / 6.0)
    assert(math.abs(Metrics.bleu(ref, hyp) - expected) < 1e-12)
  }

  test("set precision/recall/f-measure (nltk semantics)") {
    val ref = Set("a", "b", "c", "d")
    val hyp = Set("a", "b", "x")
    assert(math.abs(Metrics.precision(ref, hyp) - 2.0 / 3.0) < 1e-12)
    assert(math.abs(Metrics.recall(ref, hyp) - 0.5) < 1e-12)
    val f = 1.0 / (0.5 / (2.0 / 3.0) + 0.5 / 0.5)
    assert(math.abs(Metrics.fMeasure(ref, hyp) - f) < 1e-12)
  }

  test("edit distance") {
    assert(Metrics.editDistance("kitten", "sitting") == 3)
    assert(Metrics.editDistance("", "abc") == 3)
    assert(Metrics.normalizedEditDistance("kitten", "sitting") == 3.0 / 7.0)
  }

  test("chinese detection routes to char tokens") {
    assert(Metrics.containsChinese("有中文"))
    assert(!Metrics.containsChinese("latin only"))
    assert(Metrics.tokens("中文字").toSeq == Seq("中", "文", "字"))
    assert(Metrics.tokens("two words").toSeq == Seq("two", "words"))
  }

  test("category split regexes (ported byte-exact)") {
    assert(Metrics.categoryOf("prose only") == "text")
    assert(Metrics.categoryOf("x \\(a+b\\) y") == "math")
    assert(Metrics.categoryOf("\\[display\\]") == "math")
    assert(Metrics.categoryOf("\\begin{tabular}{cc}\na & b \\\\\n\\end{tabular}") == "table")
    // unterminated tabular still matches (reference's (?:\\end{tabular}|$))
    assert(Metrics.categoryOf("\\begin{tabular}{cc} a & b") == "table")
    // escaped \\) does not close inline math (lookbehind)
    val (_, math1, _) = Metrics.splitCategories("\\(a\\\\)b\\)")
    assert(math1 == "a\\\\)b")
  }

  test("chrF: identity near 1, disjoint 0") {
    assert(Metrics.chrF("abcdef", "abcdef") > 0.999)
    assert(Metrics.chrF("aaaa", "zzzz") == 0.0)
  }
}

class RenderSpec extends AnyFunSuite {
  test("mathpix escape (reference P9 semantics)") {
    assert(Render.mathpixEscape("a\"b$c") == "\"a``bc\\n\"")
    assert(Render.mathpixEscape("l1\nl2") == "\"l1\\n\"+\n\"l2\\n\"")
    assert(Render.mathpixEscape("back\\slash") == "\"back\\\\slash\\n\"")
  }

  test("tikz normalize (reference P11 semantics incl. the drop-last-char quirk)") {
    assert(Render.tikzNormalize("\\draw (0,0) -- (1,1);") == "\\draw (0,0) -- (1,1);\n")
    // line not ending in ';' loses its final char, then gets ';'
    assert(Render.tikzNormalize("\\draw (0,0)") == "\\draw (0,0;\n")
    assert(Render.tikzNormalize("\\begin{tikzpicture}\nx;\n\\end{tikzpicture}") ==
      "\\begin{tikzpicture}\nx;\n\\end{tikzpicture}\n")
    assert(Render.tikzNormalize("a，b。c;") == "a,b.c;\n")
  }

  test("render routing: kern svg, tikz, mmd") {
    val kern = Render.render("**kern\n4c\n=\n2e\n*-")
    assert(kern.contains("<svg") && kern.contains("<ellipse"))
    assert(Render.render("\\begin{tikzpicture}x;").contains("text/tikz"))
    assert(Render.render("plain text").contains("const text ="))
  }

  test("kern svg: pitch/duration/rest/barline layout semantics") {
    import graft.pipeline.KernSvg
    // diatonic indices: lowercase c = C4 (28), cc = C5 (35), C = C3 (21)
    assert(KernSvg.pitchIndex("4c") == Some(28))
    assert(KernSvg.pitchIndex("8cc") == Some(35))
    assert(KernSvg.pitchIndex("2C") == Some(21))
    assert(KernSvg.pitchIndex("4e") == Some(30)) // bottom staff line E4
    assert(KernSvg.pitchIndex("4r") == None)
    assert(KernSvg.duration("2.e") == 2)
    assert(KernSvg.duration("16a") == 16)
    val svg = KernSvg.toSvg("**kern\n4c\n4r\n=\n1e\n*-")
    // E4 (whole note): hollow head on the bottom line, no stem at y=70
    assert(svg.contains("""<ellipse cx="""))
    assert(svg.contains("""fill="none"""")) // the whole note
    assert(svg.contains("""<rect""")) // the rest
    assert(svg.split("\n").count(_.startsWith("<line x1=\"10\"")) == 5) // staff
    // determinism + never-throw on hostile notation
    assert(svg == KernSvg.toSvg("**kern\n4c\n4r\n=\n1e\n*-"))
    KernSvg.toSvg("garbage \u0000 ###---rrr 999x")
    // bounded output on hostile pitch runs: a 100k-letter run must not
    // explode into megabytes of ledger lines (octave run clamps at 4)
    val hostile = KernSvg.toSvg("**kern\n4" + ("c" * 100000) + "\n*-")
    assert(hostile.length < 10000, s"svg blew up: ${hostile.length} chars")
  }

  test("unwrapInternVl: reference marker split, lenient when absent") {
    assert(Render.unwrapInternVl("header All words in the image:\nthe answer[UNUSED_TOKEN_145]tail")
      == "the answer")
    assert(Render.unwrapInternVl("no markers here") == "no markers here")
    assert(Render.unwrapInternVl("All words in the image:\nonly start") == "only start")
  }

  test("repairLeftRight: unbalanced strips, balanced untouched") {
    assert(Extractor.repairLeftRight("\\left( x \\right)") == "\\left( x \\right)")
    assert(Extractor.repairLeftRight("\\left( x") == "( x")
    assert(Extractor.repairLeftRight("\\left[ x \\right] \\left( y") == "[ x ] ( y")
  }
}

class ExtractModeSpec extends AnyFunSuite {
  test("mode parsing") {
    assert(ExtractMode.parse("plain", "{}") == ExtractMode.Plain)
    assert(ExtractMode.parse("format", "{}") == ExtractMode.Format)
    assert(ExtractMode.parse("box", """{"box":[100,350]}""") == ExtractMode.Box(100, 350))
    assert(ExtractMode.parse("color", """{"color":"red"}""") == ExtractMode.Color("red"))
    assert(ExtractMode.parse("multicrop", "{}") == ExtractMode.MultiCrop)
    assert(ExtractMode.parse("unknown", null) == ExtractMode.Plain)
  }

  test("byteWindow uses floor int-div (reference int(x/w*1000) rounding)") {
    assert(ExtractMode.byteWindow(1000, 100, 350) == (100L, 350L))
    assert(ExtractMode.byteWindow(333, 100, 350) == (33L, 116L))
    assert(ExtractMode.byteWindow(7, 999, 1000) == (6L, 7L))
  }

  test("payload dispatch: pdf magic, binary sniff, html default") {
    assert(Extractor.payloadKind("%PDF-1.4 x".getBytes(UTF_8)) == "pdf")
    assert(Extractor.payloadKind(Array[Byte](0, 1, 2, 3)) == "binary")
    assert(Extractor.payloadKind("<p>x</p>".getBytes(UTF_8)) == "html")
    assert(Extractor.payloadKind(Array.emptyByteArray) == "empty")
  }
}
