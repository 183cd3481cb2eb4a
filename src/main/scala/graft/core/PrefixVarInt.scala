package graft.core

/** Decode failure modes, mirroring the reference's `DecodeError`
  * (reference: src/core.rs:5-13).
  */
sealed abstract class DecodeError(msg: String) extends Exception(msg) {
  // Control-flow exceptions on the hot path: no stack trace capture.
  override def fillInStackTrace(): Throwable = this
}
object DecodeError {
  /** Buffer ended before a complete value (reference: src/core.rs:8). */
  final class UnexpectedEob extends DecodeError("unexpected end of buffer")
  /** Decoded value does not fit the requested narrow type
    * (reference: src/core.rs:11).
    */
  final class Overflow extends DecodeError("value overflows target type")
  def eob(): Nothing = throw new UnexpectedEob
  def overflow(): Nothing = throw new Overflow
}

/** Prefix-varint codec: a bijective, length-prefixed, byte-aligned
  * variable-length encoding `u64 -> [1..9] bytes` with the length tag
  * packed UTF-8-style into the leading byte's prefix bits, plus zigzag
  * mapping for signed values.
  *
  * Semantics reproduced bit-exactly from the reference crate
  * `prefix_uvarint` (reference: src/lib.rs:49-78 constants;
  * src/raw.rs:9-36 length LUT; src/raw.rs:60-116 encode kernel;
  * src/raw.rs:176-233 decode kernel; src/core.rs:56-64 zigzag).
  *
  * JVM `Long` carries the raw u64 with unsigned semantics (`>>>`,
  * `java.lang.Long.compareUnsigned`); the canonical (minimal) length is
  * always emitted, so output bytes are identical to the reference's.
  */
object PrefixVarInt {

  /** Maximum encoded length in bytes (reference: src/lib.rs:49). */
  final val MaxLen = 9

  /** Largest raw value encodable in exactly 1 byte (reference: src/lib.rs:78). */
  final val Max1ByteTag = 0x7fL

  /** MaxValue(n) = largest u64 encodable in n bytes, n in 1..9
    * (reference: src/lib.rs:52-63; formula src/raw.rs:45-51).
    * Index 0 is a sentinel (-1 never used).
    */
  val MaxValue: Array[Long] = {
    val a = new Array[Long](10)
    a(0) = 0L
    var n = 1
    while (n <= 8) { a(n) = ~(-1L << (n * 7)); n += 1 }
    a(9) = -1L // u64::MAX
    a
  }

  /** Unary length-tag prefix over the n-byte big-endian word, expressed in
    * the u64 domain: top (n-1) bits set (reference: src/lib.rs:66-76,
    * src/raw.rs:39-41). TagPrefix64(1) == 0.
    */
  val TagPrefix64: Array[Long] = {
    val a = new Array[Long](10)
    var n = 1
    while (n <= 9) { a(n) = if (n == 1) 0L else ~(-1L >>> (n - 1)); n += 1 }
    a
  }

  /** 64-entry length LUT indexed by `numberOfLeadingZeros(v | 1)`
    * (reference: src/raw.rs:9-36 `len_slow`/`compute_len_table`).
    * lz == 0 (top bit set) => 9; otherwise (70 - lz) / 7.
    */
  private val LenTable: Array[Byte] = {
    val t = new Array[Byte](64)
    var lz = 0
    while (lz < 64) {
      t(lz) = if (lz == 0) 9 else ((70 - lz) / 7).toByte
      lz += 1
    }
    t
  }

  /** Encoded byte length of a raw u64, in [1, 9]
    * (reference: src/raw.rs:34-36, src/core.rs:157-161).
    *
    * The LUT form is deliberate: a branchless arithmetic replacement
    * (`l = (70 - lz)*37 >>> 8; l + ((9 - l) >> 31)`, exactness
    * verified over all length classes) measured 790 Melem/s against the
    * LUT's 1,800+ in a monomorphic 1024-element loop on this VM
    * (round 5) — the imul+shift+mask dependency chain is longer than
    * the pipelined L1 table load. The remaining gap to the reference's
    * published 3G+ (M1 native) is the VM's issue width, not the table.
    */
  @inline def len(raw: Long): Int =
    LenTable(java.lang.Long.numberOfLeadingZeros(raw | 1L))

  /** Zigzag i64 -> u64 so small-magnitude negatives encode short
    * (reference: src/core.rs:56-58). Arithmetic >> then xor.
    */
  @inline def zigzagEncode(v: Long): Long = (v >> 63) ^ (v << 1)

  /** Zigzag u64 -> i64 inverse (reference: src/core.rs:62-64). */
  @inline def zigzagDecode(raw: Long): Long = (raw >>> 1) ^ -(raw & 1L)

  /** Encode one raw u64 at dst(off); returns bytes written (1..9).
    * Caller must guarantee `dst.length - off >= len(raw)`.
    * Canonical minimal-length output, byte-identical to the reference
    * kernel (reference: src/raw.rs:60-116).
    */
  def encode(raw: Long, dst: Array[Byte], off: Int): Int = {
    if (java.lang.Long.compareUnsigned(raw, Max1ByteTag) <= 0) {
      dst(off) = raw.toByte
      1
    } else encodeMultibyte(raw, dst, off)
  }

  /** Multi-byte encode path (reference: src/raw.rs:60-101) — unrolled
    * per-length stores mirroring the reference's distinct-branch-per-
    * length structure (JIT-friendlier than a generic store loop). For
    * n == 9 writes the literal 0xFF tag byte then the raw 8-byte BE u64
    * (reference: src/raw.rs:96-99).
    */
  private[core] def encodeMultibyte(raw: Long, dst: Array[Byte], off: Int): Int = {
    val n = len(raw)
    (n: @annotation.switch) match {
      case 2 =>
        dst(off) = ((raw >>> 8) | 0x80L).toByte
        dst(off + 1) = raw.toByte
      case 3 =>
        dst(off) = ((raw >>> 16) | 0xc0L).toByte
        dst(off + 1) = (raw >>> 8).toByte
        dst(off + 2) = raw.toByte
      case 4 =>
        dst(off) = ((raw >>> 24) | 0xe0L).toByte
        dst(off + 1) = (raw >>> 16).toByte
        dst(off + 2) = (raw >>> 8).toByte
        dst(off + 3) = raw.toByte
      case 5 =>
        dst(off) = ((raw >>> 32) | 0xf0L).toByte
        dst(off + 1) = (raw >>> 24).toByte
        dst(off + 2) = (raw >>> 16).toByte
        dst(off + 3) = (raw >>> 8).toByte
        dst(off + 4) = raw.toByte
      case 6 =>
        dst(off) = ((raw >>> 40) | 0xf8L).toByte
        dst(off + 1) = (raw >>> 32).toByte
        dst(off + 2) = (raw >>> 24).toByte
        dst(off + 3) = (raw >>> 16).toByte
        dst(off + 4) = (raw >>> 8).toByte
        dst(off + 5) = raw.toByte
      case 7 =>
        dst(off) = ((raw >>> 48) | 0xfcL).toByte
        dst(off + 1) = (raw >>> 40).toByte
        dst(off + 2) = (raw >>> 32).toByte
        dst(off + 3) = (raw >>> 24).toByte
        dst(off + 4) = (raw >>> 16).toByte
        dst(off + 5) = (raw >>> 8).toByte
        dst(off + 6) = raw.toByte
      case 8 =>
        dst(off) = ((raw >>> 56) | 0xfeL).toByte
        dst(off + 1) = (raw >>> 48).toByte
        dst(off + 2) = (raw >>> 40).toByte
        dst(off + 3) = (raw >>> 32).toByte
        dst(off + 4) = (raw >>> 24).toByte
        dst(off + 5) = (raw >>> 16).toByte
        dst(off + 6) = (raw >>> 8).toByte
        dst(off + 7) = raw.toByte
      case _ =>
        dst(off) = -1 // 0xFF
        dst(off + 1) = (raw >>> 56).toByte
        dst(off + 2) = (raw >>> 48).toByte
        dst(off + 3) = (raw >>> 40).toByte
        dst(off + 4) = (raw >>> 32).toByte
        dst(off + 5) = (raw >>> 24).toByte
        dst(off + 6) = (raw >>> 16).toByte
        dst(off + 7) = (raw >>> 8).toByte
        dst(off + 8) = raw.toByte
    }
    n
  }

  // Unaligned big-endian word access — the JVM analogue of the
  // reference's unaligned word loads/stores (reference: src/raw.rs:64-98).
  //
  // Spark's own Platform (spark-unsafe) instead of a byteArrayView
  // VarHandle: every call site has already proven >= MaxLen headroom, and
  // the VarHandle's per-access bounds checks measured 2x on the 9-byte
  // decode hot loop (steady-state 200 -> 400 Melem/s) — the same reason
  // Tungsten row access goes through Platform. bswap (reverseBytes) is a
  // single instruction; the native-order test is a JIT-time constant.
  @inline private[core] def getLongBE(src: Array[Byte], off: Int): Long =
    Mem.getLongBE(src, off)
  @inline private[core] def putLongBE(dst: Array[Byte], off: Int, v: Long): Unit =
    Mem.putLongBE(dst, off, v)

  /** Fast multi-byte encode requiring ≥ MaxLen bytes of headroom at
    * dst(off) (the reference's fast-path contract, src/raw.rs:57-59):
    * one 8-byte word store; bytes past the value are scratch the caller's
    * cursor never exposes.
    */
  private[core] def encodeMultibyteFast(raw: Long, dst: Array[Byte], off: Int): Int = {
    val n = len(raw)
    if (n == 9) {
      dst(off) = -1 // 0xFF
      putLongBE(dst, off + 1, raw)
    } else {
      putLongBE(dst, off, (raw << ((8 - n) * 8)) | TagPrefix64(n))
    }
    n
  }

  /** Fast multi-byte decode requiring ≥ MaxLen readable bytes at src(off):
    * one 8-byte word load, shift, mask (reference: src/raw.rs:176-218).
    *
    * Measured note: a branch-FREE variant (always load at off+1, merge
    * the tag's value bits) was tried and is 2x SLOWER on homogeneous
    * 9-byte streams — the n==9 branch is perfectly predictable there,
    * while the merge costs three extra ALU ops on every value; on mixed
    * zipf streams the two are equal. Keep the branch.
    */
  private[core] def decodeMultibyteFast(n: Int, src: Array[Byte], off: Int): Long = {
    if (n == 9) getLongBE(src, off + 1)
    else (getLongBE(src, off) >>> ((8 - n) * 8)) & MaxValue(n)
  }

  /** Unrolled multi-byte decode at src(off); the tag byte is src(off) and
    * the caller has verified `off + lenFromTag(tag) <= end` (reference
    * ladder: src/raw.rs:176-218).
    */
  private[core] def decodeMultibyte(tag: Int, src: Array[Byte], off: Int): Long = {
    @inline def b(i: Int): Long = src(off + i) & 0xffL
    (leadingOnes(tag) + 1: @annotation.switch) match {
      case 2 => ((tag & 0x3fL) << 8) | b(1)
      case 3 => ((tag & 0x1fL) << 16) | (b(1) << 8) | b(2)
      case 4 => ((tag & 0x0fL) << 24) | (b(1) << 16) | (b(2) << 8) | b(3)
      case 5 => ((tag & 0x07L) << 32) | (b(1) << 24) | (b(2) << 16) | (b(3) << 8) | b(4)
      case 6 => ((tag & 0x03L) << 40) | (b(1) << 32) | (b(2) << 24) | (b(3) << 16) |
        (b(4) << 8) | b(5)
      case 7 => ((tag & 0x01L) << 48) | (b(1) << 40) | (b(2) << 32) | (b(3) << 24) |
        (b(4) << 16) | (b(5) << 8) | b(6)
      case 8 => (b(1) << 48) | (b(2) << 40) | (b(3) << 32) | (b(4) << 24) |
        (b(5) << 16) | (b(6) << 8) | b(7)
      case _ => (b(1) << 56) | (b(2) << 48) | (b(3) << 40) | (b(4) << 32) |
        (b(5) << 24) | (b(6) << 16) | (b(7) << 8) | b(8)
    }
  }

  @inline private[core] def readBE(src: Array[Byte], off: Int, n: Int): Long = {
    var v = 0L
    var i = 0
    while (i < n) {
      v = (v << 8) | (src(off + i) & 0xffL)
      i += 1
    }
    v
  }

  /** Number of leading 1-bits of the 8-bit tag (reference:
    * `tag.leading_ones()` in src/raw.rs:176, src/io.rs:38).
    */
  @inline def leadingOnes(tag: Int): Int =
    Integer.numberOfLeadingZeros(~(tag << 24))

  /** Encoded length implied by a tag byte: leadingOnes + 1 (1..9). */
  @inline def lenFromTag(tag: Int): Int = leadingOnes(tag & 0xff) + 1

  /** Boxed single-value decode: (value, bytesConsumed).
    *
    * Non-canonical encodings are accepted exactly as the reference does
    * (mask-only, no minimality check; reference: src/raw.rs:176-218).
    * Allocation-free cursor decoding for hot loops lives in
    * [[BlockReader]], which owns its position state (the codec object is
    * shared by all Spark task threads in the JVM and must stay stateless).
    *
    * @throws DecodeError.UnexpectedEob if fewer bytes remain than the tag requires
    */
  def decodePair(src: Array[Byte], off: Int = 0): (Long, Int) = {
    val tag = if (off < src.length) src(off) & 0xff else DecodeError.eob()
    if (tag <= 0x7f) (tag.toLong, 1)
    else {
      val n = leadingOnes(tag) + 1
      if (off + n > src.length) DecodeError.eob()
      if (n == 9) (readBE(src, off + 1, 8), 9)
      else (readBE(src, off, n) & MaxValue(n), n)
    }
  }

  /** Value-only decode (no consumed-length tuple) — the allocation-free
    * form whole-stage codegen calls (a Tuple2 return would box).
    */
  def decodeValue(src: Array[Byte], off: Int): Long = {
    val tag = if (off < src.length) src(off) & 0xff else DecodeError.eob()
    if (tag <= 0x7f) tag.toLong
    else {
      val n = leadingOnes(tag) + 1
      if (off + n > src.length) DecodeError.eob()
      if (n == 9) readBE(src, off + 1, 8)
      else readBE(src, off, n) & MaxValue(n)
    }
  }

  /** Encode into an owned minimal array (reference:
    * `to_prefix_varint_bytes`, src/core.rs:190-195).
    */
  def toBytes(raw: Long): Array[Byte] = {
    val out = new Array[Byte](len(raw))
    encode(raw, out, 0)
    out
  }

  // ---- narrow-type decode checks (reference: src/core.rs:77-95) ----

  /** u32 narrowing: Overflow if raw > 0xFFFFFFFF (reference: src/core.rs:85-88). */
  @inline def checkU32(raw: Long): Long =
    if ((raw & 0xffffffff00000000L) != 0L) DecodeError.overflow() else raw

  /** u16 narrowing. */
  @inline def checkU16(raw: Long): Long =
    if ((raw & 0xffffffffffff0000L) != 0L) DecodeError.overflow() else raw

  /** i32 narrowing after zigzag decode. */
  @inline def checkI32(v: Long): Long =
    if (v != v.toInt.toLong) DecodeError.overflow() else v

  /** i16 narrowing after zigzag decode. */
  @inline def checkI16(v: Long): Long =
    if (v != v.toShort.toLong) DecodeError.overflow() else v
}
