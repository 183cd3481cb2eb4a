package graft.core

/** Growable byte buffer with a prefix-varint append fast path — the Scala
  * analogue of the reference's `PrefixVarIntBufMut::put_prefix_varint`
  * (reference: src/bytes.rs:20-40). Blocks are allocated with `MaxLen`
  * slack so the hot loop never takes a bounds-checked slow path
  * (reference fast-path contract: src/raw.rs:57-59).
  */
final class BlockWriter(initialCapacity: Int = 4096) {
  private var buf = new Array[Byte](math.max(initialCapacity, 16))
  private var pos = 0

  @inline private def ensure(extra: Int): Unit = {
    if (pos + extra > buf.length) {
      var cap = buf.length << 1
      while (pos + extra > cap) cap <<= 1
      buf = java.util.Arrays.copyOf(buf, cap)
    }
  }

  /** Append one raw u64 as prefix varint (1-byte inline fast path as in
    * reference src/bytes.rs:29-30).
    */
  def putVarint(raw: Long): Unit = {
    ensure(PrefixVarInt.MaxLen)
    if (java.lang.Long.compareUnsigned(raw, PrefixVarInt.Max1ByteTag) <= 0) {
      buf(pos) = raw.toByte
      pos += 1
    } else {
      // ensure(MaxLen) guarantees the word-store fast path is always safe
      pos += PrefixVarInt.encodeMultibyteFast(raw, buf, pos)
    }
  }

  /** Append a signed value zigzag-mapped then varint-coded
    * (reference signed path: src/core.rs:67-70).
    */
  def putSignedVarint(v: Long): Unit = putVarint(PrefixVarInt.zigzagEncode(v))

  /** Cap on one batch's worst-case reservation (values); larger batches
    * recurse in slices so the upfront `ensure` never over-allocates by
    * more than ~9 MiB beyond what the data needs.
    */
  private final val BatchSlice = 1 << 20

  /** Batch raw-varint append — the write-side twin of
    * `BlockReader.readVarints`: ONE worst-case capacity reservation for
    * the whole batch (hoisted out of the loop entirely — the per-value
    * capacity test was the 1-byte path's dominant cost), the cursor in a
    * LOCAL, the 1-byte class detected by a single shift test, and the
    * encode kernel inlined.
    */
  def putVarints(vs: Array[Long], off: Int, n: Int): Unit = {
    if (n > BatchSlice) {
      var o = off
      var r = n
      while (r > 0) {
        val step = if (r < BatchSlice) r else BatchSlice
        putVarints(vs, o, step); o += step; r -= step
      }
      return
    }
    if (n <= 0) return
    ensure(n * PrefixVarInt.MaxLen)
    var i = 0
    var p = pos
    val b = buf
    while (i < n) {
      val raw = vs(off + i)
      if ((raw >>> 7) == 0L) {
        b(p) = raw.toByte
        p += 1
      } else {
        val len = PrefixVarInt.len(raw)
        if (len == 9) {
          b(p) = -1 // 0xFF
          PrefixVarInt.putLongBE(b, p + 1, raw)
        } else {
          PrefixVarInt.putLongBE(b, p,
            (raw << ((8 - len) * 8)) | PrefixVarInt.TagPrefix64(len))
        }
        p += len
      }
      i += 1
    }
    pos = p
  }

  /** Batch zigzag-signed append, as [[putVarints]]. */
  def putSignedVarints(vs: Array[Long], off: Int, n: Int): Unit = {
    if (n > BatchSlice) {
      var o = off
      var r = n
      while (r > 0) {
        val step = if (r < BatchSlice) r else BatchSlice
        putSignedVarints(vs, o, step); o += step; r -= step
      }
      return
    }
    if (n <= 0) return
    ensure(n * PrefixVarInt.MaxLen)
    var i = 0
    var p = pos
    val b = buf
    while (i < n) {
      val raw = PrefixVarInt.zigzagEncode(vs(off + i))
      if ((raw >>> 7) == 0L) {
        b(p) = raw.toByte
        p += 1
      } else {
        val len = PrefixVarInt.len(raw)
        if (len == 9) {
          b(p) = -1 // 0xFF
          PrefixVarInt.putLongBE(b, p + 1, raw)
        } else {
          PrefixVarInt.putLongBE(b, p,
            (raw << ((8 - len) * 8)) | PrefixVarInt.TagPrefix64(len))
        }
        p += len
      }
      i += 1
    }
    pos = p
  }

  def putByte(b: Int): Unit = { ensure(1); buf(pos) = b.toByte; pos += 1 }

  /** Reserve `extra` bytes and expose the backing array + write cursor
    * for an unchecked append run (round 10: the FSST encode loop paid a
    * capacity test per OUTPUT BYTE through putByte — ~27% of the whole
    * engine encode leg in the sampling profile). The caller writes at
    * most `extra` bytes starting at the returned offset and then calls
    * [[advance]] with the count actually written. The array reference is
    * invalidated by any other put/ensure in between — use only for a
    * single tight run.
    */
  def reserveRaw(extra: Int): Array[Byte] = { ensure(extra); buf }
  def rawPos: Int = pos
  def advance(n: Int): Unit = {
    require(n >= 0 && pos + n <= buf.length, s"advance($n) overruns buffer")
    pos += n
  }

  def putBytes(src: Array[Byte], off: Int, n: Int): Unit = {
    ensure(n)
    System.arraycopy(src, off, buf, pos, n)
    pos += n
  }
  def putBytes(src: Array[Byte]): Unit = putBytes(src, 0, src.length)

  /** Fixed-width little-endian long (used by the bit-packed codecs). */
  def putLongLE(v: Long): Unit = {
    ensure(8)
    var i = 0
    while (i < 8) { buf(pos + i) = (v >>> (8 * i)).toByte; i += 1 }
    pos += 8
  }

  def size: Int = pos
  def result(): Array[Byte] = java.util.Arrays.copyOf(buf, pos)
  def reset(): Unit = pos = 0
}

/** Cursor over an encoded byte block — the Scala analogue of the
  * reference's `PrefixVarIntBuf::get_prefix_varint`
  * (reference: src/bytes.rs:122-146). On `UnexpectedEob` the cursor is
  * drained to the end, matching the reference's iterator-termination
  * contract (reference: src/bytes.rs:44-46).
  */
final class BlockReader(buf: Array[Byte], start: Int, end: Int) {
  def this(buf: Array[Byte]) = this(buf, 0, buf.length)
  private var pos = start

  def hasRemaining: Boolean = pos < end
  def remaining: Int = end - pos
  def position: Int = pos

  /** Decode the next raw u64. Throws `DecodeError.UnexpectedEob` (after
    * draining the cursor) if the buffer ends mid-value.
    *
    * Hot-path shape: ONE headroom test (`≥ MaxLen` readable) replaces the
    * EOB and per-length bounds checks — with MaxLen bytes available any
    * n ≤ 9 is in bounds, so the multibyte case is a branch-free word
    * load (reference src/bytes.rs:129-137). The byte ladder near the
    * buffer tail lives in [[getVarintTail]].
    */
  def getVarint(): Long = {
    val p = pos
    if (end - p >= PrefixVarInt.MaxLen) {
      val tag = buf(p) & 0xff
      if (tag <= 0x7f) { pos = p + 1; tag.toLong }
      else {
        val n = PrefixVarInt.leadingOnes(tag) + 1
        pos = p + n
        PrefixVarInt.decodeMultibyteFast(n, buf, p)
      }
    } else getVarintTail()
  }

  /** Tail path (< MaxLen bytes of headroom): full bounds checks, unrolled
    * byte ladder, drain-on-EOB semantics.
    */
  private def getVarintTail(): Long = {
    if (pos >= end) DecodeError.eob()
    val tag = buf(pos) & 0xff
    if (tag <= 0x7f) { pos += 1; tag.toLong }
    else {
      val n = PrefixVarInt.leadingOnes(tag) + 1
      if (pos + n > end) { pos = end; DecodeError.eob() } // drain semantics
      val v = PrefixVarInt.decodeMultibyte(tag, buf, pos)
      pos += n
      v
    }
  }

  def getSignedVarint(): Long = PrefixVarInt.zigzagDecode(getVarint())

  /** Batch raw-varint decode of `count` values into `dst(off..)`; returns
    * values read (< count only if the cursor drains first, in which case
    * the EOB has already been raised by the tail path).
    *
    * This is the block-decode hot loop: the cursor lives in a LOCAL for
    * the whole batch and the `pos` field is written once, where per-call
    * `getVarint()` pays field load/store + call overhead per value —
    * measured ~2.5x on 9-byte streams. The Rust reference gets this shape
    * for free from iterator inlining (reference: src/bytes.rs:148-186);
    * on the JVM it needs the explicit batch API.
    */
  def readVarints(dst: Array[Long], off: Int, count: Int): Int = {
    val b = buf
    val e = end
    var p = pos
    var i = 0
    while (i < count && e - p >= PrefixVarInt.MaxLen) {
      val tag = b(p) & 0xff
      if (tag <= 0x7f) {
        dst(off + i) = tag.toLong
        p += 1
      } else {
        // decodeMultibyteFast, hand-inlined: at this loop's heat the JIT
        // must keep the cursor and word math in registers, and the
        // out-of-line call was measured to deoptimize under mixed
        // length-class profiles (9-byte steady state 204 vs 549 Melem/s)
        val n = PrefixVarInt.leadingOnes(tag) + 1
        dst(off + i) =
          if (n == 9) PrefixVarInt.getLongBE(b, p + 1)
          else (PrefixVarInt.getLongBE(b, p) >>> ((8 - n) * 8)) &
            PrefixVarInt.MaxValue(n)
        p += n
      }
      i += 1
    }
    pos = p
    while (i < count && hasRemaining) { // bounds-checked tail
      dst(off + i) = getVarint()
      i += 1
    }
    i
  }

  /** Batch zigzag-signed decode, as [[readVarints]]. */
  def readSignedVarints(dst: Array[Long], off: Int, count: Int): Int = {
    val got = readVarints(dst, off, count)
    var i = off
    val e = off + got
    while (i < e) { dst(i) = PrefixVarInt.zigzagDecode(dst(i)); i += 1 }
    got
  }

  def getByte(): Int = {
    if (pos >= end) DecodeError.eob()
    val b = buf(pos) & 0xff
    pos += 1
    b
  }

  /** Advance the cursor without copying (zero-copy slice consumers).
    * Negative n (a corrupt length field) drains and raises Eob like an
    * overlong n — never an out-of-bounds access.
    */
  def skip(n: Int): Unit = {
    if (n < 0 || n > end - pos) { pos = end; DecodeError.eob() }
    pos += n
  }

  def getBytes(n: Int): Array[Byte] = {
    if (n < 0 || n > end - pos) { pos = end; DecodeError.eob() }
    val out = java.util.Arrays.copyOfRange(buf, pos, pos + n)
    pos += n
    out
  }

  def getLongLE(): Long = {
    if (pos + 8 > end) { pos = end; DecodeError.eob() }
    var v = 0L
    var i = 0
    while (i < 8) { v |= (buf(pos + i) & 0xffL) << (8 * i); i += 1 }
    pos += 8
    v
  }

  /** Iterator over all remaining varints — the analogue of the
    * reference's `iter_prefix_varint` (reference: src/bytes.rs:148-186);
    * terminates on EOB via the drain semantics above.
    */
  def varintIterator: Iterator[Long] = new Iterator[Long] {
    def hasNext: Boolean = hasRemaining
    def next(): Long = getVarint()
  }

  /** Narrow u32 iterator with the reference's Overflow-then-CONTINUE
    * contract (reference: src/bytes.rs:166-186, test src/tests.rs:296-307):
    * a well-formed value that does not fit u32 yields `Left(Overflow)` but
    * the cursor has consumed the whole encoded value, so iteration
    * continues with the next one; a truncated value yields `Left(Eob)`
    * with the cursor drained, terminating iteration.
    */
  def varintIterator32: Iterator[Either[DecodeError, Long]] =
    narrowIterator(raw =>
      if ((raw & 0xffffffff00000000L) != 0L) Left(new DecodeError.Overflow)
      else Right(raw))

  /** Narrow u16 iterator, same Overflow-then-CONTINUE contract
    * (reference u16 wrapper: src/core.rs:77-83).
    */
  def varintIterator16: Iterator[Either[DecodeError, Long]] =
    narrowIterator(raw =>
      if ((raw & 0xffffffffffff0000L) != 0L) Left(new DecodeError.Overflow)
      else Right(raw))

  /** Signed i32 iterator: zigzag-decode then range-check, Overflow-then-
    * CONTINUE (reference signed wrappers: src/core.rs:198-203).
    */
  def varintIteratorI32: Iterator[Either[DecodeError, Long]] =
    narrowIterator { raw =>
      val v = PrefixVarInt.zigzagDecode(raw)
      if (v != v.toInt.toLong) Left(new DecodeError.Overflow) else Right(v)
    }

  /** Signed i16 iterator, as [[varintIteratorI32]]. */
  def varintIteratorI16: Iterator[Either[DecodeError, Long]] =
    narrowIterator { raw =>
      val v = PrefixVarInt.zigzagDecode(raw)
      if (v != v.toShort.toLong) Left(new DecodeError.Overflow) else Right(v)
    }

  private def narrowIterator(check: Long => Either[DecodeError, Long])
      : Iterator[Either[DecodeError, Long]] =
    new Iterator[Either[DecodeError, Long]] {
      def hasNext: Boolean = hasRemaining
      def next(): Either[DecodeError, Long] =
        try check(getVarint()) // consumes the full value even on overflow
        catch { case e: DecodeError.UnexpectedEob => Left(e) }
    }
}
