package graft.html

/** All per-thread scratch state of the extraction kernel in ONE object,
  * fetched with a SINGLE ThreadLocal.get per document and passed down
  * (r6b). The kernel previously kept one ThreadLocal per scratch buffer
  * and `normalize` looked its buffer up per BLOCK — on Spark executor
  * threads (long ThreadLocalMap probe chains from the framework's own
  * ThreadLocals) those lookups alone were ~5% of the extract-stage
  * profile.
  *
  * Reuse contract: everything here is valid within ONE kernel call and
  * overwritten by the next — the block table and its arena, the tag
  * view, the decode buffers. Only `Dom.blocksStreaming` (owned `Block`s)
  * and `Html5Tokenizer.tokenizeDecoded` (owned tokens) copy out of it;
  * the extractor copies its output into a String before returning.
  * Kernel calls never interleave on one thread (KERNEL.md, "Lifetime of
  * the kernel scratch").
  *
  * Buffers grow monotonically to the largest document a thread has
  * seen, bounded by the kernel's own guards (MaxDocBytes for the input
  * side, MaxOutChars for the output builder).
  */
final class KernelScratch {
  /** normalize's flat in/out array (input copy + output region). */
  var normBuf: Array[Char] = new Array[Char](16 * 1024)
  /** Extractor's output accumulator. */
  val outText: java.lang.StringBuilder = new java.lang.StringBuilder(8 * 1024)
  /** Tokenizer's multi-segment text fallback builder (entities, CDATA
    * splices) — previously a default-capacity builder allocated per
    * document, growing by byte[] copies on entity-heavy docs. */
  val tokText: java.lang.StringBuilder = new java.lang.StringBuilder(4 * 1024)
  /** Decoder output: chars and the char → byte offset map (the latter
    * only for non-ASCII UTF-8). The decoder's 6-bytes-per-input-byte
    * transient allocation was the kernel's dominant GC pressure at high
    * parallelism before it was reused. */
  var decChars: Array[Char] = new Array[Char](64 * 1024)
  var decOffs: Array[Int] = new Array[Int](64 * 1024 + 1)
  /** The start tag handed to `TokenSink.tagOpen`. */
  val tagView: TagView = new TagView
  /** The current document's blocks (rows over a char arena). */
  val blocks: BlockTable = new BlockTable
  /** Extractor's repeat-suppression set over arena ranges. */
  val repeats: RangeSet = new RangeSet
  /** The block builder that fills `blocks`; reset per document. */
  val blockSink: Dom.BlockSink = new Dom.BlockSink(this)
}

object KernelScratch {
  private val tl = new ThreadLocal[KernelScratch] {
    override def initialValue(): KernelScratch = new KernelScratch
  }
  def get(): KernelScratch = tl.get()
}
