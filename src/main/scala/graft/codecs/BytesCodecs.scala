package graft.codecs

import graft.core.{BlockReader, BlockWriter}

/** Decoded float-array column (kind 7): flat float pool + per-row
  * (offset, len) slices — the embedding shape. The reader hands rows
  * out as `Array[Float]` copies only when materialized into Spark rows.
  */
final class FloatsColumn(val pool: Array[Float], val offsets: Array[Int],
                         val lens: Array[Int]) {
  def n: Int = offsets.length
  def slice(i: Int): Array[Float] =
    java.util.Arrays.copyOfRange(pool, offsets(i), offsets(i) + lens(i))
}

/** Block codecs for the two LLM-pipeline column shapes the engine's own
  * table champions (round 7): kind 6 BINARY (opaque media payloads) and
  * kind 7 ARRAY<FLOAT> (embeddings).
  *
  * BINARY (id 32, "bin-raw"): varint n, per-value byte-length varints,
  * concatenated payloads — the raw string block's slice layout, encoded
  * and decoded by the same code ([[RawStringCodec.encodeSlices]] /
  * [[RawStringCodec.decodeSlices]]) under its own id and length cap. The
  * string codecs never select id 32 and never decode it as a string
  * block. Blobs (compressed media) don't dictionary- or
  * prefix-compress, so raw is the whole suite. Both sides use the
  * [[Utf8Column]] slice shape (it is just (pool, offsets, lens) over
  * bytes); decode is zero-copy.
  *
  * ARRAY<FLOAT> (id 33, "f32-raw"): varint n, per-row dim varints, then
  * the packed little-endian IEEE-754 floats. Embedding floats are
  * near-random in the low mantissa bits — raw 4-byte storage is the
  * right baseline (byte-exact, SIMD-friendly bulk copies through a
  * little-endian FloatBuffer view).
  */
object BytesCodecs {

  final val BinRawId = 32
  final val F32RawId = 33
  /** Per-value caps mirror the string path's MaxValueChars discipline. */
  final val MaxBinaryBytes: Int = 64 << 20
  final val MaxFloatDim: Int = 1 << 20

  // ------------------------------------------------------------- binary

  def encodeBinary(col: Utf8Column): Array[Byte] =
    RawStringCodec.encodeSlices(BinRawId, col)

  /** Zero-copy decode into byte slices over `buf`. */
  def decodeBinary(buf: Array[Byte], off: Int, end: Int): Utf8Column =
    RawStringCodec.decodeSlices(buf, off, end, BinRawId, MaxBinaryBytes)

  // -------------------------------------------------------- float array

  def encodeFloats(col: FloatsColumn): Array[Byte] = {
    val n = col.n
    var total = 0L
    var i = 0
    while (i < n) { total += col.lens(i); i += 1 }
    require(total * 4 <= Int.MaxValue - 16L - n * 2L,
      s"float payload overflows a block: $total floats")
    val bytes = (total * 4).toInt
    val w = new BlockWriter(bytes + n * 2 + 16)
    w.putByte(F32RawId)
    w.putVarint(n.toLong)
    i = 0
    while (i < n) { w.putVarint(col.lens(i).toLong); i += 1 }
    val fb = java.nio.ByteBuffer.wrap(w.reserveRaw(bytes), w.rawPos, bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).asFloatBuffer()
    i = 0
    while (i < n) { fb.put(col.pool, col.offsets(i), col.lens(i)); i += 1 }
    w.advance(bytes)
    w.result()
  }

  def decodeFloats(buf: Array[Byte], off: Int, end: Int): FloatsColumn = {
    require(off >= 0 && off < end && end <= buf.length,
      "empty or out-of-range block slice")
    val r = new BlockReader(buf, off, end)
    val id = r.getByte()
    require(id == F32RawId, s"unknown bytes-codec id $id (want $F32RawId)")
    val nv = r.getVarint()
    require(nv >= 0 && nv <= LongCodecs.MaxDecodeRows, s"implausible row count $nv")
    val n = nv.toInt
    val lens = new Array[Int](n)
    val offs = new Array[Int](n)
    var total = 0L
    var i = 0
    while (i < n) {
      val d = r.getVarint()
      require(d >= 0 && d <= MaxFloatDim, s"implausible float-array dim $d")
      lens(i) = d.toInt
      offs(i) = total.toInt
      total += d
      require(total * 4 <= r.remaining,
        "float payload shorter than its declared dims")
      i += 1
    }
    require(total * 4 == r.remaining, "float block has trailing bytes")
    val pool = new Array[Float](total.toInt)
    java.nio.ByteBuffer.wrap(buf, r.position, pool.length * 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .asFloatBuffer().get(pool)
    new FloatsColumn(pool, offs, lens)
  }
}
