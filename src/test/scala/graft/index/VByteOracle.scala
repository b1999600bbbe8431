package graft.index

/** The builder-based VByte decoders the sized ones replaced, kept as
  * the codec specs' oracle: decode every value the stream holds, then
  * prefix-sum or narrow in a second pass. */
object VByteOracle {

  def decode(bytes: Array[Byte]): Array[Long] = {
    val out = Array.newBuilder[Long]
    var v = 0L; var shift = 0
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if ((b & 0x80) != 0) { // terminator
        out += (v | ((b & 0x7fL) << shift)); v = 0L; shift = 0
      } else {
        v |= (b & 0x7fL) << shift; shift += 7
      }
      i += 1
    }
    require(shift == 0, "truncated VByte stream")
    out.result()
  }

  def decodeInts(bytes: Array[Byte]): Array[Int] = decode(bytes).map(_.toInt)

  /** Prefix-sum back to absolute values. */
  def undeltas(ds: Array[Long]): Array[Long] = {
    if (ds.isEmpty) return Array.empty
    val out = new Array[Long](ds.length)
    out(0) = ds(0)
    var i = 1
    while (i < ds.length) { out(i) = out(i - 1) + ds(i); i += 1 }
    out
  }

  /** A block's absolute positions: each tf-long run prefix-summed. */
  def positions(bytes: Array[Byte], tfs: Array[Int]): Array[Int] = {
    val d = decode(bytes)
    require(d.length == tfs.sum, s"positions stream has ${d.length} entries, tf sum is ${tfs.sum}")
    val out = new Array[Int](d.length)
    var j = 0
    tfs.foreach { tf =>
      var acc = 0
      (0 until tf).foreach { _ => acc += d(j).toInt; out(j) = acc; j += 1 }
    }
    out
  }
}
