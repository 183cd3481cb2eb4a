package graft.core

import java.io.{InputStream, OutputStream}

/** `java.io` stream adapters for the prefix-varint codec — the analogue
  * of the reference's `std::io` API (reference: src/io.rs:20-60), used by
  * the engine for manifest/spill io off the hot path.
  */
object VarIntStreams {

  /** Encode one raw u64 to a stream; returns bytes written
    * (reference: `write_prefix_varint`, src/io.rs:20-30).
    */
  def write(raw: Long, out: OutputStream): Int = {
    val buf = new Array[Byte](PrefixVarInt.MaxLen)
    val n = PrefixVarInt.encode(raw, buf, 0)
    out.write(buf, 0, n)
    n
  }

  def writeSigned(v: Long, out: OutputStream): Int =
    write(PrefixVarInt.zigzagEncode(v), out)

  /** Decode one raw u64 from a stream: read the tag byte, then exactly
    * `leadingOnes(tag)` more (reference: `read_prefix_varint`,
    * src/io.rs:35-47). EOF before the tag or mid-value raises
    * [[DecodeError.UnexpectedEob]].
    */
  def read(in: InputStream): Long = {
    val tag = in.read()
    if (tag < 0) DecodeError.eob()
    if (tag <= 0x7f) tag.toLong
    else {
      val n = PrefixVarInt.leadingOnes(tag) + 1
      val buf = new Array[Byte](n)
      buf(0) = tag.toByte
      var got = 1
      while (got < n) {
        val r = in.read(buf, got, n - got)
        if (r < 0) DecodeError.eob()
        got += r
      }
      PrefixVarInt.decodeMultibyte(tag, buf, 0)
    }
  }

  def readSigned(in: InputStream): Long = PrefixVarInt.zigzagDecode(read(in))

  /** Buffered, allocation-free stream decoder — the analogue of the
    * reference's zero-copy `read_prefix_varint_buf` over a `BufRead`
    * (reference: src/io.rs:51-60): values are decoded IN PLACE from an
    * internal buffer (no per-value array), which is compacted and refilled
    * only when a value straddles the buffer boundary.
    */
  final class BufferedVarIntReader(in: InputStream, bufSize: Int = 8192) {
    require(bufSize >= PrefixVarInt.MaxLen, s"bufSize must be >= ${PrefixVarInt.MaxLen}")
    private val buf = new Array[Byte](bufSize)
    private var pos = 0
    private var lim = 0
    private var eof = false

    /** Ensure ≥ n readable bytes at buf(pos) (n ≤ MaxLen); returns the
      * count actually available (< n only at stream end).
      */
    private def fill(n: Int): Int = {
      if (lim - pos >= n || eof) return math.min(lim - pos, n)
      if (buf.length - pos < n) { // compact the tail to the front
        System.arraycopy(buf, pos, buf, 0, lim - pos)
        lim -= pos
        pos = 0
      }
      while (lim - pos < n && !eof) {
        val r = in.read(buf, lim, buf.length - lim)
        if (r < 0) eof = true else lim += r
      }
      math.min(lim - pos, n)
    }

    /** True if at least one more byte is available. */
    def hasNext: Boolean = fill(1) >= 1

    /** Decode the next raw u64; [[DecodeError.UnexpectedEob]] at stream
      * end (before the tag) or on a truncated value.
      */
    def read(): Long = {
      if (fill(1) < 1) DecodeError.eob()
      val tag = buf(pos) & 0xff
      if (tag <= 0x7f) { pos += 1; tag.toLong }
      else {
        val n = PrefixVarInt.leadingOnes(tag) + 1
        if (fill(n) < n) { pos = lim; DecodeError.eob() }
        val v = PrefixVarInt.decodeMultibyte(tag, buf, pos)
        pos += n
        v
      }
    }

    def readSigned(): Long = PrefixVarInt.zigzagDecode(read())

    def iterator: Iterator[Long] = new Iterator[Long] {
      def hasNext: Boolean = BufferedVarIntReader.this.hasNext
      def next(): Long = read()
    }
  }

  /** Drain a stream into values until EOF — the io analogue of the
    * reference's buffer iterator (reference: src/bytes.rs:148-186).
    */
  def iterator(in: InputStream): Iterator[Long] = new Iterator[Long] {
    private var nextTag = in.read()
    def hasNext: Boolean = nextTag >= 0
    def next(): Long = {
      val tag = nextTag
      val v =
        if (tag <= 0x7f) tag.toLong
        else {
          val n = PrefixVarInt.leadingOnes(tag) + 1
          val buf = new Array[Byte](n)
          buf(0) = tag.toByte
          var got = 1
          while (got < n) {
            val r = in.read(buf, got, n - got)
            if (r < 0) DecodeError.eob()
            got += r
          }
          PrefixVarInt.decodeMultibyte(tag, buf, 0)
        }
      nextTag = in.read()
      v
    }
  }
}
