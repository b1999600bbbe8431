package graft.index

/**
 * Variable-byte (VByte) integer codec — 7 data bits per byte, high bit
 * set on the terminating byte (the classic Lucene/IR-textbook layout;
 * public knowledge, e.g. Manning/Raghavan/Schütze IIR §5.3). Used for
 * docId deltas, term frequencies, and doc lengths inside posting
 * blocks (FIXTURES.md §2 `postings.doc_deltas`/`tfs`).
 *
 * The reference (JesterJ) ships these bytes to Lucene which does its
 * own encoding; we own the format here, so it is round-trip
 * property-tested (VByteSpec).
 *
 * A block row states how many values each stream holds (`n_docs`, and
 * Σ tf for positions), so the decoders take that count, fill an array
 * of exactly that size in one pass over the bytes, and throw when the
 * stream holds more or fewer values.
 */
object VByte extends Serializable {

  /** Encoded size in bytes of one non-negative value. */
  def sizeOf(v: Long): Int = {
    require(v >= 0, s"VByte encodes non-negative values, got $v")
    var x = v >>> 7; var n = 1
    while (x != 0) { x >>>= 7; n += 1 }
    n
  }

  def encode(values: Array[Long]): Array[Byte] = {
    var total = 0
    var i = 0
    while (i < values.length) { total += sizeOf(values(i)); i += 1 }
    val out = new Array[Byte](total)
    var o = 0
    i = 0
    while (i < values.length) { o = put(out, o, values(i)); i += 1 }
    out
  }

  def encodeInts(values: Array[Int]): Array[Byte] = {
    var total = 0
    var i = 0
    while (i < values.length) { total += sizeOf(values(i)); i += 1 }
    val out = new Array[Byte](total)
    var o = 0
    i = 0
    while (i < values.length) { o = put(out, o, values(i)); i += 1 }
    out
  }

  /** Writes `value` at `out(o)`; returns the offset past it. */
  private def put(out: Array[Byte], at: Int, value: Long): Int = {
    var v = value; var o = at
    while ((v & ~0x7fL) != 0) { out(o) = (v & 0x7f).toByte; o += 1; v >>>= 7 }
    out(o) = (v | 0x80).toByte // terminator: high bit set
    o + 1
  }

  /** The `n` absolute values of a [[deltas]] stream, prefix-summed in
    * the decode pass. */
  def decodeDocIds(bytes: Array[Byte], n: Int): Array[Long] = {
    val out = new Array[Long](n)
    var acc = 0L; var v = 0L; var shift = 0; var k = 0
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if (b < 0) { // terminator
        if (k == n) tooMany(n)
        acc += v | ((b & 0x7fL) << shift); out(k) = acc; k += 1; v = 0L; shift = 0
      } else {
        v |= b.toLong << shift; shift += 7
      }
      i += 1
    }
    complete(k, n, shift)
    out
  }

  /** The `n` values of a stream of ints. */
  def decodeInts(bytes: Array[Byte], n: Int): Array[Int] = {
    val out = new Array[Int](n)
    var v = 0; var shift = 0; var k = 0
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if (b < 0) { // terminator
        if (k == n) tooMany(n)
        out(k) = v | ((b & 0x7f) << shift); k += 1; v = 0; shift = 0
      } else {
        v |= b << shift; shift += 7
      }
      i += 1
    }
    complete(k, n, shift)
    out
  }

  /** A stream of consecutive runs of `runs(i)` values each, `n` values
    * in all, each run delta-encoded from zero (first value absolute):
    * the absolute values, prefix-summed per run in the decode pass. */
  def decodeRuns(bytes: Array[Byte], runs: Array[Int], n: Int): Array[Int] = {
    val out = new Array[Int](n)
    var acc = 0; var left = 0; var r = 0
    var v = 0; var shift = 0; var k = 0
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if (b < 0) { // terminator
        if (k == n) tooMany(n)
        while (left == 0) { left = runs(r); r += 1; acc = 0 }
        acc += v | ((b & 0x7f) << shift); out(k) = acc; k += 1; left -= 1; v = 0; shift = 0
      } else {
        v |= b << shift; shift += 7
      }
      i += 1
    }
    complete(k, n, shift)
    out
  }

  private def tooMany(n: Int): Nothing =
    throw new IllegalArgumentException(s"VByte stream holds more than its $n values")

  private def complete(k: Int, n: Int, shift: Int): Unit = {
    require(shift == 0, "truncated VByte stream")
    require(k == n, s"VByte stream holds $k values, expected $n")
  }

  /** Delta-encode an ascending sequence (first value absolute). */
  def deltas(sorted: Array[Long]): Array[Long] = {
    if (sorted.isEmpty) return Array.empty
    val out = new Array[Long](sorted.length)
    out(0) = sorted(0)
    var i = 1
    while (i < sorted.length) {
      val d = sorted(i) - sorted(i - 1)
      require(d > 0, s"docIds must be strictly ascending: ${sorted(i - 1)} -> ${sorted(i)}")
      out(i) = d
      i += 1
    }
    out
  }
}
