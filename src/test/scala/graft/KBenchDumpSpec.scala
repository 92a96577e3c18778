package graft

import graft.extract.Extractor
import java.io.{DataOutputStream, FileOutputStream}
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** `KBench.readDump` on hostile dumps: a bad length prefix fails before
  * anything is allocated, a record cut short fails instead of passing
  * for end of file, and both messages name the file and the offset. */
class KBenchDumpSpec extends AnyFunSuite {

  /** A dump file written by `body`; deleted after `check`. */
  private def withDump(body: DataOutputStream => Unit)(check: String => Unit): Unit = {
    val f = Files.createTempFile("kbench", ".dump")
    try {
      val out = new DataOutputStream(new FileOutputStream(f.toFile))
      try body(out) finally out.close()
      check(f.toString)
    } finally Files.delete(f)
  }

  private def record(out: DataOutputStream, s: String): Unit = {
    val b = s.getBytes("UTF-8")
    out.writeInt(b.length); out.write(b)
  }

  private def failure(path: String): String =
    intercept[IllegalArgumentException](KBench.readDump(path).toVector).getMessage

  test("well-formed dump reads every record, empty ones included") {
    withDump { out => record(out, "<p>a</p>"); record(out, ""); record(out, "%PDF-1.4") } { p =>
      assert(KBench.readDump(p).map(new String(_, "UTF-8")).toVector ==
        Vector("<p>a</p>", "", "%PDF-1.4"))
    }
    withDump(_ => ()) { p => assert(KBench.readDump(p).isEmpty) }
  }

  test("negative length prefix fails with the file and the record offset") {
    withDump { out => record(out, "abc"); out.writeInt(-5); out.write(new Array[Byte](16)) } { p =>
      val msg = failure(p)
      assert(msg.contains(p) && msg.contains("offset 7") && msg.contains("-5"), msg)
    }
  }

  test("oversized length prefix fails before allocating") {
    // Int.MaxValue would be an OutOfMemoryError if it were allocated
    Seq(Extractor.MaxDocBytes + 1, Int.MaxValue).foreach { len =>
      withDump { out => out.writeInt(len); out.write(new Array[Byte](16)) } { p =>
        val msg = failure(p)
        assert(msg.contains(p) && msg.contains("offset 0") && msg.contains(len.toString), msg)
      }
    }
    withDump { out => record(out, "x" * 10); out.writeInt(Extractor.MaxDocBytes) } { p =>
      // a prefix at the limit is accepted; the missing payload is a truncation
      assert(failure(p).contains("truncated"))
    }
  }

  test("truncated dump fails instead of ending early") {
    // cut inside a payload
    withDump { out => record(out, "<p>one</p>"); out.writeInt(100); out.write(new Array[Byte](10)) } { p =>
      val msg = failure(p)
      assert(msg.contains(p) && msg.contains("truncated 100-byte payload at offset 14"), msg)
    }
    // cut inside a length prefix
    withDump { out => record(out, "<p>one</p>"); out.write(Array[Byte](0, 0)) } { p =>
      val msg = failure(p)
      assert(msg.contains(p) && msg.contains("truncated length prefix at offset 14"), msg)
    }
  }
}
