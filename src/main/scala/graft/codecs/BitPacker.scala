package graft.codecs

/** Fixed-width bit packing (little-endian bit order) used by the
  * frame-of-reference, bit-pack, and dictionary-code codecs.
  * Absolute-bit-position addressing keeps pack/unpack branch-light and
  * allocation-free per value.
  */
object BitPacker {

  /** Bits needed to represent `range` treated as unsigned (0 -> 0 bits). */
  @inline def bitsForUnsigned(range: Long): Int =
    64 - java.lang.Long.numberOfLeadingZeros(range)

  @inline def packedSize(n: Int, width: Int): Int =
    ((n.toLong * width + 7) >>> 3).toInt

  /** Pack `n` values at `width` bits each into a fresh byte array. Values
    * are masked to `width` bits; caller guarantees they fit.
    */
  def pack(values: Array[Long], n: Int, width: Int): Array[Byte] = {
    val dst = new Array[Byte](packedSize(n, width))
    if (width == 0) return dst
    val mask = if (width == 64) -1L else (1L << width) - 1
    var bitPos = 0L
    var i = 0
    while (i < n) {
      val v = values(i) & mask
      val byteOff = (bitPos >>> 3).toInt
      val bitOff = (bitPos & 7L).toInt
      val need = (bitOff + width + 7) >>> 3
      val lo = v << bitOff
      var j = 0
      val m = if (need < 8) need else 8
      while (j < m) {
        dst(byteOff + j) = (dst(byteOff + j) | ((lo >>> (8 * j)) & 0xffL)).toByte
        j += 1
      }
      if (need > 8)
        dst(byteOff + 8) = (dst(byteOff + 8) | ((v >>> (64 - bitOff)) & 0xffL)).toByte
      bitPos += width
      i += 1
    }
    dst
  }

  /** The little-endian word at byte `off` of `buf`; past the last whole
    * word, the bytes that remain.
    */
  @inline def word(buf: Array[Byte], off: Int): Long =
    if (off <= buf.length - 8) graft.core.Mem.getLongLE(buf, off) else tail(buf, off)

  private def tail(buf: Array[Byte], off: Int): Long = {
    var v = 0L
    var j = 0
    while (off + j < buf.length) { v |= (buf(off + j) & 0xffL) << (8 * j); j += 1 }
    v
  }

  /** Unpack `n` values of `width` bits each from `bytes` starting at `off`. */
  def unpack(bytes: Array[Byte], off: Int, n: Int, width: Int): Array[Long] = {
    require(width >= 0 && width <= 64, s"bit width $width out of range [0, 64]")
    require(off >= 0, s"negative offset $off")
    if (width != 0 && bytes.length - off < packedSize(n, width))
      graft.core.DecodeError.eob() // validate BEFORE allocating the output
    val out = new Array[Long](n)
    if (width == 0) return out
    val mask = if (width == 64) -1L else (1L << width) - 1
    var bitPos = 0L
    var i = 0
    // fast path (width <= 57: any value plus its bit offset fits one
    // 8-byte load): single unaligned word load, shift, mask. `Mem` does
    // not check bounds: value i loads 8 bytes at off + (i * width >>> 3),
    // so the first `fast` values are those whose load starts at or before
    // safeEnd = bytes.length - 8
    if (width <= 57) {
      val room = bytes.length - 8 - off // safeEnd - off
      val fast = if (room < 0) 0 else math.min(n.toLong, (room * 8L + 7) / width + 1).toInt
      while (i < fast) {
        val w = graft.core.Mem.getLongLE(bytes, off + (bitPos >>> 3).toInt)
        out(i) = (w >>> (bitPos & 7L).toInt) & mask
        bitPos += width
        i += 1
      }
    }
    while (i < n) { // tail, and widths whose value can span a ninth byte
      val byteOff = off + (bitPos >>> 3).toInt
      val bitOff = (bitPos & 7L).toInt
      var v = word(bytes, byteOff) >>> bitOff
      if (bitOff + width > 64) v |= (bytes(byteOff + 8) & 0xffL) << (64 - bitOff)
      out(i) = v & mask
      bitPos += width
      i += 1
    }
    out
  }
}
