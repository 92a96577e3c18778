package graft

import graft.extract.{ExtractMode, Extractor}
import graft.gen.SynthCorpus
import java.lang.management.ManagementFactory
import org.scalatest.funsuite.AnyFunSuite

/** Allocation guard for the extraction kernel: bytes allocated per
  * document by Plain `Extractor.extract` over the golden fixtures' HTML
  * payloads, on one thread after warm-up (JIT compiled, scratch buffers
  * grown). The kernel's per-block work is meant to allocate nothing; a
  * change that brings back a String, Block or tag object per block or
  * tag shows here as a multiple of the recorded figure. */
class KernelAllocSpec extends AnyFunSuite {

  /** Measured bytes per document when the guard was set (KERNEL.md). */
  private final val RecordedBytesPerDoc = 5000.0

  test("Plain extraction allocates at most 1.5x the recorded bytes per html document") {
    val nDocs = 400L
    val html = (0L until nDocs).flatMap(i => SynthCorpus.docRows(i, nDocs)._1)
      .map(_.html).filter(b => Extractor.payloadKind(b) == "html").toArray
    assert(html.length > 300, s"vacuity guard: only ${html.length} html payloads")
    val mx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread.getId
    assert(html.forall(b => Extractor.extract(b, ExtractMode.Plain).isRight))
    def pass(): Unit = html.foreach(b => Extractor.extract(b, ExtractMode.Plain))
    (1 to 20).foreach(_ => pass())
    val reps = 5
    val a0 = mx.getThreadAllocatedBytes(tid)
    (1 to reps).foreach(_ => pass())
    val perDoc = (mx.getThreadAllocatedBytes(tid) - a0).toDouble / (reps * html.length)
    info(f"$perDoc%.0f bytes allocated per html document (${html.length} documents)")
    assert(perDoc <= 1.5 * RecordedBytesPerDoc,
      f"$perDoc%.0f B/doc > 1.5 x $RecordedBytesPerDoc%.0f")
  }
}
