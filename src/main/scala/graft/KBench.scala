package graft

import graft.extract.{ExtractMode, Extractor}
import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, FileInputStream, FileOutputStream}

/** Spark-free single-thread kernel microbench — attributes kernel-speed
  * deltas across rounds independent of corpus mix (the two are confounded
  * in end-to-end bench numbers when the generator changes).
  *
  *   gen <file> <nDocs>   dump the generator's payloads (length-prefixed)
  *   run <file> <reps>    time Extractor.extract per payload kind
  *
  * Dumps are portable across rounds (raw bytes only), so running round
  * R's kernel over round S's dump gives the kernel×corpus 2x2.
  */
object KBench {
  def main(args: Array[String]): Unit = args(0) match {
    case "bw" =>
      // sanity probe for the DRAM-bandwidth ceiling calibration
      Seq(1, 8, 32).foreach { t =>
        val b = graft.util.HwCalib.calibrateBandwidth(t)
        println(f"bw threads=$t%2d  ${b / 1e9}%8.2f GB/s")
      }
    case "gen" =>
      val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(args(1)), 1 << 20))
      val n = args(2).toLong
      var i = 0L
      while (i < n) {
        graft.gen.SynthCorpus.docRows(i, n)._1.foreach { p =>
          out.writeInt(p.html.length); out.write(p.html)
        }
        i += 1
      }
      out.close()
    case "sum" =>
      // output-identity checksum over a dump: total extracted chars and
      // an order-sensitive FNV over every text — compare across kernel
      // changes to prove byte-identical extraction beyond the goldens
      var total = 0L
      var fnv = 0xcbf29ce484222325L
      readDump(args(1)).foreach { b =>
        Extractor.extract(b, ExtractMode.Plain) match {
          case Right(res) =>
            total += res.text.length
            var i = 0
            while (i < res.text.length) {
              fnv = (fnv ^ res.text.charAt(i)) * 0x100000001b3L; i += 1
            }
            res.spans.foreach { sp =>
              fnv = (fnv ^ sp.start) * 0x100000001b3L
              fnv = (fnv ^ sp.end) * 0x100000001b3L
            }
          case Left(reason) =>
            var i = 0
            while (i < reason.length) {
              fnv = (fnv ^ reason.charAt(i)) * 0x100000001b3L; i += 1
            }
        }
      }
      println(s"SUM total_chars=$total fnv=$fnv")
    case "run" =>
      val arr = readDump(args(1)).toArray
      val kinds = arr.map(Extractor.payloadKind)
      val reps = args(2).toInt
      // JIT warmup: two full passes (kernel) + anchor warmup
      (1 to 2).foreach(_ => arr.foreach(b => Extractor.extract(b, ExtractMode.Plain)))
      graft.util.HwCalib.calibrate(1)
      // Host speed drifts ~2x with hypervisor burst state, so each rep is
      // ANCHORED: the xxh64 single-thread calibration runs immediately
      // around the kernel pass and the reported figure is the per-rep
      // median of docs/s ÷ anchor ops/s — drift cancels within a rep.
      val perRep = (1 to reps).map { _ =>
        val a0 = graft.util.HwCalib.calibrate(1)
        val byKind = scala.collection.mutable.Map.empty[String, (Long, Long, Long)]
        var i = 0
        while (i < arr.length) {
          val t0 = System.nanoTime()
          Extractor.extract(arr(i), ExtractMode.Plain)
          val ns = System.nanoTime() - t0
          val (n0, b0, ns0) = byKind.getOrElse(kinds(i), (0L, 0L, 0L))
          byKind(kinds(i)) = (n0 + 1, b0 + arr(i).length, ns0 + ns)
          i += 1
        }
        val a1 = graft.util.HwCalib.calibrate(1)
        (byKind.toMap, (a0 + a1) / 2)
      }
      def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
      val allKinds = perRep.flatMap(_._1.keys).distinct
      allKinds.foreach { k =>
        val avgUs = med(perRep.map { case (m, _) => val (n, _, ns) = m(k); ns / 1e3 / n })
        val perByte = med(perRep.map { case (m, _) => val (_, b, ns) = m(k); ns.toDouble / b })
        // anchored cost: kernel ns per doc × anchor ops per ns = anchor ops per doc
        val anchored = med(perRep.map { case (m, a) => val (n, _, ns) = m(k); (ns / 1e9 * a) / n })
        println(f"$k%-8s n=${perRep.head._1(k)._1}%8d  avg_us=$avgUs%9.2f  ns_per_byte=$perByte%7.2f  anchor_ops_per_doc=$anchored%9.1f")
      }
      val tot = med(perRep.map { case (m, a) =>
        val ns = m.values.map(_._3).sum; val n = m.values.map(_._1).sum
        n.toDouble / (ns / 1e9) / a
      })
      println(f"TOTAL    docs_per_anchor_op=$tot%.4f  (docs/s per hw-anchor op/s; drift-immune)")
  }

  /** The payloads of a dump, in order. Every length prefix is checked
    * against [0, Extractor.MaxDocBytes] before anything is allocated; a
    * bad prefix or a record cut short fails with the file and the byte
    * offset of the record. End of file is accepted only between records. */
  def readDump(path: String): Iterator[Array[Byte]] = new Iterator[Array[Byte]] {
    private val in = new DataInputStream(new BufferedInputStream(new FileInputStream(path), 1 << 20))
    private var offset = 0L
    private var nextDoc: Array[Byte] = fetch()

    private def fetch(): Array[Byte] = {
      val first = in.read()
      if (first < 0) { in.close(); return null }
      val b1 = in.read(); val b2 = in.read(); val b3 = in.read()
      if ((b1 | b2 | b3) < 0) truncated("length prefix")
      val len = (first << 24) | (b1 << 16) | (b2 << 8) | b3 // DataOutput.writeInt order
      if (len < 0 || len > Extractor.MaxDocBytes) {
        in.close()
        throw new IllegalArgumentException(
          s"$path: bad length prefix $len at offset $offset (allowed 0..${Extractor.MaxDocBytes})")
      }
      val b = new Array[Byte](len)
      try in.readFully(b)
      catch { case _: java.io.EOFException => truncated(s"$len-byte payload") }
      offset += 4L + len
      b
    }

    private def truncated(what: String): Nothing = {
      in.close()
      throw new IllegalArgumentException(s"$path: truncated $what at offset $offset")
    }

    def hasNext: Boolean = nextDoc != null
    def next(): Array[Byte] = {
      if (nextDoc == null) throw new NoSuchElementException(s"$path: no more records")
      val b = nextDoc
      nextDoc = fetch()
      b
    }
  }
}
