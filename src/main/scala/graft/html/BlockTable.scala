package graft.html

/** One document's blocks as rows of primitive columns — what
  * `Dom.BlockSink` produces and the classifier and extractor read. Each
  * block's normalized text is a range of `arena`; `cls` and `style` are
  * refs into the same arena, an offset and a length packed in one Long
  * (0 = empty; see `ref`). Table blocks also keep their cell grid.
  *
  * The table lives in `KernelScratch` and is overwritten by the next
  * document on the thread: a row is valid only within the kernel call
  * that built it. `block`/`toBlocks` make owned `Block` copies.
  */
final class BlockTable {
  /** Number of rows (blocks) of the current document. */
  var n: Int = 0
  /** Block text and cls/style chars; `arenaLen` chars are in use. */
  var arena: Array[Char] = new Array[Char](16 * 1024)
  var arenaLen: Int = 0

  private var cap = 64
  var kind: Array[String] = new Array[String](cap)
  var textOff: Array[Int] = new Array[Int](cap)
  var textLen: Array[Int] = new Array[Int](cap)
  /** Separator (' '/'\n') count + 1, or 0 for empty text. */
  var words: Array[Int] = new Array[Int](cap)
  var linkChars: Array[Int] = new Array[Int](cap)
  var boiler: Array[Boolean] = new Array[Boolean](cap)
  var startByte: Array[Long] = new Array[Long](cap)
  var endByte: Array[Long] = new Array[Long](cap)
  var elemStartByte: Array[Long] = new Array[Long](cap)
  var elemEndByte: Array[Long] = new Array[Long](cap)
  var cls: Array[Long] = new Array[Long](cap)
  var style: Array[Long] = new Array[Long](cap)
  /** Cell grid of table blocks; null for every other kind. */
  var cells: Array[Vector[Vector[String]]] = new Array[Vector[Vector[String]]](cap)

  def clear(): Unit = {
    java.util.Arrays.fill(cells.asInstanceOf[Array[AnyRef]], 0, n, null)
    n = 0; arenaLen = 0
  }

  /** Room for `extra` more arena chars; offsets stay valid. */
  def ensureArena(extra: Int): Unit =
    if (arenaLen + extra > arena.length) {
      val a = new Array[Char](math.max(arena.length * 2, arenaLen + extra))
      System.arraycopy(arena, 0, a, 0, arenaLen)
      arena = a
    }

  /** Appends `len` chars of `src` to the arena; returns their ref. */
  def appendRef(src: Array[Char], from: Int, len: Int): Long =
    if (len == 0) 0L
    else {
      ensureArena(len)
      System.arraycopy(src, from, arena, arenaLen, len)
      val r = BlockTable.ref(arenaLen, len)
      arenaLen += len
      r
    }

  /** Index of a new row: `cells` is null, the caller sets the rest. */
  def addRow(): Int = {
    if (n == cap) grow()
    n += 1
    n - 1
  }

  private def grow(): Unit = {
    cap *= 2
    kind = java.util.Arrays.copyOf(kind, cap)
    textOff = java.util.Arrays.copyOf(textOff, cap)
    textLen = java.util.Arrays.copyOf(textLen, cap)
    words = java.util.Arrays.copyOf(words, cap)
    linkChars = java.util.Arrays.copyOf(linkChars, cap)
    boiler = java.util.Arrays.copyOf(boiler, cap)
    startByte = java.util.Arrays.copyOf(startByte, cap)
    endByte = java.util.Arrays.copyOf(endByte, cap)
    elemStartByte = java.util.Arrays.copyOf(elemStartByte, cap)
    elemEndByte = java.util.Arrays.copyOf(elemEndByte, cap)
    cls = java.util.Arrays.copyOf(cls, cap)
    style = java.util.Arrays.copyOf(style, cap)
    cells = java.util.Arrays.copyOf(cells, cap)
  }

  def refString(ref: Long): String =
    if (ref == 0L) "" else new String(arena, BlockTable.refOff(ref), BlockTable.refLen(ref))

  /** An owned copy of row `r`. */
  def block(r: Int): Block =
    Block(kind(r), new String(arena, textOff(r), textLen(r)), if (cells(r) == null) Vector.empty else cells(r),
      refString(cls(r)), refString(style(r)), linkChars(r), textLen(r), boiler(r),
      startByte(r), endByte(r), elemStartByte(r), elemEndByte(r), words(r))

  def toBlocks: Vector[Block] = {
    val b = Vector.newBuilder[Block]
    var r = 0
    while (r < n) { b += block(r); r += 1 }
    b.result()
  }
}

object BlockTable {
  @inline def ref(off: Int, len: Int): Long = (off.toLong << 32) | (len.toLong & 0xffffffffL)
  @inline def refOff(ref: Long): Int = (ref >>> 32).toInt
  @inline def refLen(ref: Long): Int = ref.toInt
}

/** A set of char ranges of one array, compared by content — the
  * extractor's "already emitted" set for repeat suppression, without a
  * String per member. Open addressing over (hash, offset, length);
  * chars are compared only when hashes match. Members refer to the
  * array passed to `add`, so one set holds ranges of one array, and
  * `clear` starts the next document. */
final class RangeSet {
  private var mask = 63
  private var size = 0
  private var hashes = new Array[Int](mask + 1)
  private var offs = Array.fill(mask + 1)(-1)
  private var lens = new Array[Int](mask + 1)

  def clear(): Unit = if (size > 0) {
    java.util.Arrays.fill(offs, -1)
    size = 0
  }

  /** Adds `a[off, off + len)`; false if an equal range is already in. */
  def add(a: Array[Char], off: Int, len: Int): Boolean = {
    var h = 0
    var i = off
    val end = off + len
    while (i < end) { h = 31 * h + a(i); i += 1 }
    var slot = mix(h) & mask
    while (offs(slot) >= 0) {
      if (hashes(slot) == h && lens(slot) == len &&
          java.util.Arrays.equals(a, offs(slot), offs(slot) + len, a, off, end)) return false
      slot = (slot + 1) & mask
    }
    hashes(slot) = h; offs(slot) = off; lens(slot) = len
    size += 1
    if (2 * size > mask) rehash()
    true
  }

  @inline private def mix(h: Int): Int = h ^ (h >>> 16)

  private def rehash(): Unit = {
    val oh = hashes; val oo = offs; val ol = lens
    mask = 2 * mask + 1
    hashes = new Array[Int](mask + 1)
    offs = Array.fill(mask + 1)(-1)
    lens = new Array[Int](mask + 1)
    var s = 0
    while (s < oo.length) {
      if (oo(s) >= 0) {
        var slot = mix(oh(s)) & mask
        while (offs(slot) >= 0) slot = (slot + 1) & mask
        hashes(slot) = oh(s); offs(slot) = oo(s); lens(slot) = ol(s)
      }
      s += 1
    }
  }
}
