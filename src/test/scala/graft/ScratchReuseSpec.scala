package graft

import graft.classify.BlockClassifier
import graft.extract.{ExtractMode, ExtractResult, Extractor}
import graft.gen.SynthCorpus
import graft.html.Dom
import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite

/** The kernel keeps each document's blocks in per-thread scratch (block
  * table, char arena, tag view) that the next document overwrites.
  * Nothing a kernel call returns may depend on that scratch afterwards,
  * and repeat suppression over arena ranges must equal the String-set
  * definition (`Extractor.suppressRepeats`). */
class ScratchReuseSpec extends AnyFunSuite {

  private lazy val html: Vector[Array[Byte]] =
    (0L until 60L).flatMap(i => SynthCorpus.docRows(i, 60L)._1).map(_.html)
      .filter(b => Extractor.payloadKind(b) == "html").toVector

  /** `f` on a new thread, i.e. with fresh kernel scratch. */
  private def fresh[T](f: => T): T = {
    var out: Option[T] = None
    val t = new Thread(() => out = Some(f))
    t.start(); t.join()
    out.get
  }

  private val modes = Seq(ExtractMode.Plain, ExtractMode.Format,
    ExtractMode.Box(100, 900), ExtractMode.Color("red"))

  private def run(b: Array[Byte], m: ExtractMode): ExtractResult =
    Extractor.extract(b, m).fold(e => fail(s"quarantined: $e"), identity)

  test("a result stays intact after the thread extracts other documents") {
    assert(html.length > 20)
    // ascending size, so later documents grow every scratch buffer
    val docs = html.sortBy(_.length)
    modes.foreach { m =>
      val results = docs.map(b => run(b, m))
      val copies = results.map(r => (new String(r.text.toCharArray), r.spans.toList, r.metrics))
      docs.reverse.foreach(b => run(b, m)) // overwrite the scratch again
      val expected = fresh(docs.map(b => run(b, m)))
      results.indices.foreach { i =>
        val r = results(i)
        assert((r.text, r.spans.toList, r.metrics) == copies(i), s"doc $i [$m] changed")
        assert(r == expected(i), s"doc $i [$m] differs from a fresh extraction")
      }
    }
  }

  test("materialized blocks never alias the arena across interleaved kernel calls") {
    val docs = html.take(30)
    val expected = fresh(docs.map(Dom.blocksStreaming))
    val held = docs.indices.map { i =>
      val blocks = Dom.blocksStreaming(docs(i))
      // interleave: extraction of other documents reuses the same table
      run(docs((i + 1) % docs.length), ExtractMode.Plain)
      run(docs((i + 7) % docs.length), ExtractMode.Format)
      blocks
    }
    docs.foreach(b => run(b, ExtractMode.Plain))
    assert(held == expected)
    assert(held.flatten.exists(_.cls.nonEmpty), "vacuity guard: no block with a class")
    assert(held.flatten.exists(_.cells.nonEmpty), "vacuity guard: no table block")
  }

  /** The String-set definition of the Plain output. */
  private def definition(page: String): String = {
    val blocks = Dom.blocksStreaming(page.getBytes(UTF_8))
    Extractor.suppressRepeats(blocks.filter(BlockClassifier.keep)).map(_.text).mkString("\n")
  }

  private def plain(page: String): String = run(page.getBytes(UTF_8), ExtractMode.Plain).text

  private def words(seed: Int, n: Int): Seq[String] = {
    val r = new scala.util.Random(seed)
    Seq.fill(n)(r.alphanumeric.take(3 + r.nextInt(6)).mkString)
  }

  test("repeat suppression equals the String-set definition: exact repeats") {
    val long = words(1, 25).mkString(" ")
    val short = words(2, 12).mkString(" ") // under NoRepeatWords: never suppressed
    val page = s"<p>$long</p><p>$short</p><div>${words(3, 30).mkString(" ")}</div>" +
      s"<p>$long</p><p>$short</p><blockquote>$long</blockquote>"
    val out = plain(page)
    assert(out == definition(page))
    assert(out.split('\n').count(_ == long) == 1 && out.split('\n').count(_ == short) == 2, out)
  }

  test("repeat suppression equals the String-set definition: near repeats") {
    val base = words(4, 24)
    val a = base.mkString(" ")
    val oneChar = a.updated(a.length / 2, if (a.charAt(a.length / 2) == 'q') 'z' else 'q')
    // same length, same 31-polynomial hash ("Aa" and "BB" hash alike)
    val sameHashA = (base :+ "xAay").mkString(" ")
    val sameHashB = (base :+ "xBBy").mkString(" ")
    assert(sameHashA.hashCode == sameHashB.hashCode)
    val page = Seq(a, oneChar, sameHashA, sameHashB, a + " tail").map(t => s"<p>$t</p>").mkString
    val out = plain(page)
    assert(out == definition(page))
    assert(out.split('\n').length == 5, out)
  }

  test("repeat suppression equals the String-set definition: repeats after normalization") {
    val w = words(5, 22)
    val page = Seq(
      w.mkString(" "),
      w.mkString("  \n\t "),                                // whitespace runs collapse
      "\n  " + w.mkString(" ") + "  ",                      // trimmed
      w.take(10).mkString(" ") + " <b>" + w.drop(10).mkString(" ") + "</b>", // inline tag
      w.mkString(" ").replace(w.head, w.head.take(1) + "&#" + w.head.charAt(1).toInt + ";" + w.head.drop(2))
    ).map(t => s"<p>$t</p>").mkString + s"<li>${w.mkString(" ")}</li>"
    val out = plain(page)
    assert(out == definition(page))
    assert(out == w.mkString(" "), out)
  }
}
