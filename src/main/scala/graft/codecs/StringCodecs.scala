package graft.codecs

import graft.core.{BlockWriter, PrefixVarInt}
import java.nio.charset.StandardCharsets.UTF_8

/** A string column as UTF-8 slices into a shared byte pool — value i
  * is `pool(offsets(i) until offsets(i)+lens(i))`. It is both the decode
  * output and the encode input of every string codec. Decode is
  * zero-copy for raw/dict/RLE blocks (the pool IS the block buffer);
  * FSST decodes into ONE pool allocation per block. On the write path
  * the encoder's chunk buffer is the pool, filled straight from Spark's
  * UTF-8 values, so stats, encode, the chunk digest and the zone stats
  * all run on byte slices. Consumers that need Java Strings call
  * [[strings]].
  */
final class Utf8Column(val pool: Array[Byte], val offsets: Array[Int],
                       val lens: Array[Int]) {
  def n: Int = offsets.length
  def string(i: Int): String =
    new String(pool, offsets(i), lens(i), java.nio.charset.StandardCharsets.UTF_8)
  def strings: Array[String] = {
    val out = new Array[String](n)
    var i = 0
    while (i < n) { out(i) = string(i); i += 1 }
    out
  }
  /** Byte-equality of value i against a pre-encoded UTF-8 constant. */
  def equalsBytes(i: Int, b: Array[Byte]): Boolean =
    lens(i) == b.length && java.util.Arrays.equals(
      pool, offsets(i), offsets(i) + lens(i), b, 0, b.length)
  /** Byte-equality of values i and j. */
  def same(i: Int, j: Int): Boolean =
    lens(i) == lens(j) && java.util.Arrays.equals(
      pool, offsets(i), offsets(i) + lens(i), pool, offsets(j), offsets(j) + lens(j))
  /** Murmur3 of value i's bytes. */
  def hash(i: Int): Int =
    org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
      pool, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + offsets(i), lens(i), 42)
}

object Utf8Column {
  /** The codec API's one String -> UTF-8 conversion: values(0 until n)
    * into one pool, with `String.getBytes(UTF_8)` semantics (an unpaired
    * surrogate becomes '?').
    */
  def of(values: Array[String], n: Int): Utf8Column = {
    val bytes = new Array[Array[Byte]](n)
    var total = 0L
    var i = 0
    while (i < n) { bytes(i) = values(i).getBytes(UTF_8); total += bytes(i).length; i += 1 }
    require(total <= Int.MaxValue - 16, s"$total UTF-8 bytes exceed one pool")
    val pool = new Array[Byte](total.toInt)
    val offs = new Array[Int](n)
    val lens = new Array[Int](n)
    var o = 0
    i = 0
    while (i < n) {
      System.arraycopy(bytes(i), 0, pool, o, bytes(i).length)
      offs(i) = o
      lens(i) = bytes(i).length
      o += lens(i)
      i += 1
    }
    new Utf8Column(pool, offs, lens)
  }

  /** UTF-16 length (`String.length`) of the UTF-8 slice
    * `pool(off until off+len)`: one char per non-continuation byte, plus
    * one more per 4-byte lead (a surrogate pair). Exact on valid UTF-8.
    */
  def utf16Length(pool: Array[Byte], off: Int, len: Int): Int = {
    var chars = 0
    var i = off
    val end = off + len
    while (i < end) {
      val b = pool(i)
      if ((b & 0xc0) != 0x80) chars += 1
      if ((b & 0xf8) == 0xf0) chars += 1
      i += 1
    }
    chars
  }
}

/** First-seen-order distinct values of a [[Utf8Column]]: an
  * open-addressing table of codes keyed by the value bytes. `add` returns
  * a value's code, or -1 when it is new and the dictionary already holds
  * `cap` values.
  */
final class Utf8Dict(col: Utf8Column, cap: Int) {
  private var slots = new Array[Int](1024) // code + 1; 0 = empty
  private var hashes = new Array[Int](1024)
  private var firstRow = new Array[Int](256)
  var size = 0
  /** The row that introduced `code`. */
  def rowOf(code: Int): Int = firstRow(code)

  def add(i: Int): Int = {
    val h = col.hash(i)
    val mask = slots.length - 1
    var s = h & mask
    while (slots(s) != 0) {
      val c = slots(s) - 1
      if (hashes(s) == h && col.same(firstRow(c), i)) return c
      s = (s + 1) & mask
    }
    if (size >= cap) return -1
    if (size == firstRow.length) firstRow = java.util.Arrays.copyOf(firstRow, 2 * size)
    firstRow(size) = i
    slots(s) = size + 1
    hashes(s) = h
    size += 1
    if (2 * size > slots.length) grow()
    size - 1
  }

  private def grow(): Unit = {
    val oldSlots = slots
    val oldHashes = hashes
    slots = new Array[Int](2 * oldSlots.length)
    hashes = new Array[Int](2 * oldSlots.length)
    val mask = slots.length - 1
    var k = 0
    while (k < oldSlots.length) {
      if (oldSlots(k) != 0) {
        var s = oldHashes(k) & mask
        while (slots(s) != 0) s = (s + 1) & mask
        slots(s) = oldSlots(k)
        hashes(s) = oldHashes(k)
      }
      k += 1
    }
  }
}

/** One lightweight-compression codec for a chunk of string values.
  * Block wire format: `[id: u8][count: varint][payload…]`
  * ([[BlockHeader]]); ids 16+.
  */
sealed trait StringCodec extends Serializable {
  def id: Byte
  def name: String
  /** The exact size of the codec's block for the chunk of `st`;
    * `Long.MaxValue` when it is not priced from the stats.
    */
  def size(st: StringStats): Long
  /** Encode every value of `col`: the one encode implementation per codec. */
  def encodeUtf8(col: Utf8Column): Array[Byte]
  final def encode(values: Array[String], n: Int): Array[Byte] =
    encodeUtf8(Utf8Column.of(values, n))
  final def encode(values: Array[String]): Array[Byte] = encode(values, values.length)
  /** Decode a block at buf(off until end) to UTF-8 slices — zero-copy
    * where the layout allows; the single decode implementation per codec
    * (the String form derives from it).
    */
  def decodeUtf8(buf: Array[Byte], off: Int, end: Int): Utf8Column
  final def decode(buf: Array[Byte], off: Int, end: Int): Array[String] =
    decodeUtf8(buf, off, end).strings
  final def decode(block: Array[Byte]): Array[String] = decode(block, 0, block.length)
}

/** One-pass string chunk stats with exact sizes for raw/dict/rle and a
  * sample-trained FSST table for size estimation.
  */
final case class StringStats(
    count: Int,
    totalBytes: Long,
    rawBodySize: Long,
    distinct: Int,
    distinctOverflow: Boolean,
    dictBodySize: Long, // -1 if overflowed
    runCount: Int,
    rleBodySize: Long
)

object StringCodecs {

  final val DictCardCap = 1 << 14

  /** UTF-8 encoded length without materializing the bytes. */
  def utf8Length(s: String): Long = {
    var bytes = 0L
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c < 0x80) bytes += 1
      else if (c < 0x800) bytes += 2
      else if (Character.isHighSurrogate(c)) {
        // only a proper surrogate PAIR is 4 bytes; String.getBytes(UTF_8)
        // encodes an unpaired surrogate as a single '?' byte
        if (i + 1 < n && Character.isLowSurrogate(s.charAt(i + 1))) { bytes += 4; i += 1 }
        else bytes += 1
      }
      else if (Character.isLowSurrogate(c)) bytes += 1 // unpaired -> '?'
      else bytes += 3
      i += 1
    }
    bytes
  }

  def stats(values: Array[String], n: Int): StringStats = stats(Utf8Column.of(values, n))

  /** One pass: byte totals, runs (each compared with its predecessor)
    * and the first-seen dictionary, which stops growing past
    * [[DictCardCap]]. A value equal to its predecessor is neither hashed
    * nor re-counted.
    */
  def stats(col: Utf8Column): StringStats = {
    val n = col.n
    require(n > 0, "empty chunk")
    val lens = col.lens
    var totalBytes = 0L
    var rawBody = 0L
    var rleBody = 0L
    var runCount = 1
    var runStart = 0
    val dict = new Utf8Dict(col, DictCardCap)
    var dictEntries = 0L
    var overflow = false
    var i = 0
    while (i < n) {
      val b = lens(i)
      val sized = PrefixVarInt.len(b.toLong) + b
      totalBytes += b
      rawBody += sized
      if (i == 0 || !col.same(i, i - 1)) {
        if (i > 0) {
          // rle body: per run, len varint + bytes + runLen varint
          rleBody += PrefixVarInt.len(lens(runStart).toLong) + lens(runStart) +
            PrefixVarInt.len((i - runStart).toLong)
          runStart = i
          runCount += 1
        }
        if (!overflow) {
          val size = dict.size
          if (dict.add(i) < 0) overflow = true
          else if (dict.size > size) dictEntries += sized
        }
      }
      i += 1
    }
    rleBody += PrefixVarInt.len(lens(runStart).toLong) + lens(runStart) +
      PrefixVarInt.len((n - runStart).toLong)
    val card = dict.size
    val dictBody =
      if (overflow) -1L
      else PrefixVarInt.len(card.toLong) + dictEntries + 1 +
        BitPacker.packedSize(n, BitPacker.bitsForUnsigned((card - 1).toLong))
    StringStats(n, totalBytes, rawBody, card, overflow, dictBody, runCount, rleBody)
  }

  /** The codecs priced exactly from [[StringStats]]. */
  val exact: Seq[StringCodec] = Seq(RawStringCodec, DictStringCodec, RleStringCodec)
  val all: Seq[StringCodec] = exact :+ FsstStringCodec

  /** Mutable per-(partition, column) FSST training cache: training costs
    * ~5 sample passes per call, so the engine trains on the FIRST chunk of
    * a column and reuses the table for later chunks of the same partition
    * (sorted partitions are homogeneous), retraining only when the
    * achieved ratio drifts >15% above the ratio measured at training time.
    */
  final class FsstState {
    var table: Fsst.SymbolTable = null
    var trainRatio: Double = Double.MaxValue
  }

  def encodeBest(values: Array[String], n: Int, st: StringStats,
                 fsst: FsstState = null): (StringCodec, Array[Byte]) =
    encodeBest(Utf8Column.of(values, n), st, fsst)

  /** Stats-driven selection + encoding in one pass. Raw/dict/rle are
    * priced exactly from stats (no encode needed to price); FSST is
    * priced by a single (train+)encode whose block is returned directly if
    * it wins — the chosen codec is the true minimum among all priced
    * codecs with no duplicated work. Pass a [[FsstState]] to amortize
    * FSST training across the chunks of one partition column.
    */
  def encodeBest(col: Utf8Column, st: StringStats,
                 fsst: FsstState): (StringCodec, Array[Byte]) = {
    val best = exact.minBy(_.size(st))
    val bestSize = best.size(st)
    // FSST trial gate: worth a train+encode only when the chunk carries
    // real text volume AND no exactly-priced codec already compresses
    // ≥4x (FSST on text rarely beats that; skipping keeps the per-chunk
    // fixed training cost off columns dict/rle already win).
    if (st.totalBytes >= 1024 && bestSize * 4 > st.totalBytes) {
      val fsstBlock =
        if (fsst == null) FsstStringCodec.encodeUtf8(col)
        else if (fsst.table == null) {
          fsst.table = Fsst.train(col)
          val b = FsstStringCodec.encodeWith(fsst.table, col)
          fsst.trainRatio = b.length.toDouble / math.max(st.totalBytes, 1L)
          b
        } else {
          val b = FsstStringCodec.encodeWith(fsst.table, col)
          val ratio = b.length.toDouble / math.max(st.totalBytes, 1L)
          if (ratio <= fsst.trainRatio * 1.15) b
          else { // drifted: this chunk's content no longer matches the table
            fsst.table = Fsst.train(col)
            val b2 = FsstStringCodec.encodeWith(fsst.table, col)
            fsst.trainRatio = b2.length.toDouble / math.max(st.totalBytes, 1L)
            if (b2.length <= b.length) b2 else b
          }
        }
      if (fsstBlock.length < bestSize) return (FsstStringCodec, fsstBlock)
    }
    (best, best.encodeUtf8(col))
  }

  def select(values: Array[String], n: Int, st: StringStats): StringCodec =
    encodeBest(values, n, st)._1

  def byId(id: Int): StringCodec =
    all.find(_.id == id)
      .getOrElse(throw new IllegalArgumentException(s"unknown string codec id $id"))

  def decode(block: Array[Byte]): Array[String] = decodeSlice(block, 0, block.length)

  def decodeSlice(buf: Array[Byte], off: Int, end: Int): Array[String] =
    decodeSliceUtf8(buf, off, end).strings

  /** Slice decode to UTF-8 slices (no String materialization). */
  def decodeSliceUtf8(buf: Array[Byte], off: Int, end: Int): Utf8Column =
    byId(BlockHeader.idOf(buf, off, end)).decodeUtf8(buf, off, end)
}

/** Plain layout: per-string byte length varints, then concatenated UTF-8.
  * The layout is the raw slice layout BINARY blocks share
  * ([[BytesCodecs.encodeBinary]]): one encode/decode pair serves both,
  * each under its own block id and per-value length cap.
  */
case object RawStringCodec extends StringCodec {
  val id: Byte = 16
  val name = "raw"
  def size(st: StringStats): Long = BlockHeader.size(st.count) + st.rawBodySize
  def encodeUtf8(col: Utf8Column): Array[Byte] = encodeSlices(id, col)
  def decodeUtf8(buf: Array[Byte], off: Int, end: Int): Utf8Column =
    decodeSlices(buf, off, end, id, Int.MaxValue)

  /** Block `blockId`: varint n, n byte-length varints, then the slices'
    * bytes.
    */
  private[codecs] def encodeSlices(blockId: Int, col: Utf8Column): Array[Byte] = {
    val n = col.n
    var total = 0L
    var i = 0
    while (i < n) { total += col.lens(i); i += 1 }
    val w = BlockHeader.write(blockId, n, (total + n * 2 + 16).min(Int.MaxValue).toInt)
    i = 0
    while (i < n) { w.putVarint(col.lens(i).toLong); i += 1 }
    i = 0
    while (i < n) { w.putBytes(col.pool, col.offsets(i), col.lens(i)); i += 1 }
    w.result()
  }

  /** Zero-copy decode of a block `blockId` at buf(off until end) whose
    * values are at most `maxLen` bytes each; the slices index `buf`.
    */
  private[codecs] def decodeSlices(buf: Array[Byte], off: Int, end: Int,
                                   blockId: Int, maxLen: Int): Utf8Column = {
    val (r, n) = BlockHeader.open(buf, off, end, blockId)
    if (n > r.remaining) graft.core.DecodeError.eob() // each len varint >= 1 byte
    val lens = new Array[Int](n)
    var i = 0
    while (i < n) {
      val l = r.getVarint()
      require(l >= 0 && l <= maxLen, s"implausible value length $l in block $blockId")
      lens(i) = l.toInt
      i += 1
    }
    val offs = new Array[Int](n)
    i = 0
    while (i < n) {
      offs(i) = r.position
      r.skip(lens(i)) // bounds-checked; drains + raises on a corrupt length
      i += 1
    }
    require(r.remaining == 0, s"block $blockId has trailing bytes")
    new Utf8Column(buf, offs, lens)
  }
}

/** Dictionary: first-seen-order entries, codes bit-packed. */
case object DictStringCodec extends StringCodec {
  val id: Byte = 17
  val name = "dict"
  def size(st: StringStats): Long =
    if (st.dictBodySize < 0) Long.MaxValue else BlockHeader.size(st.count) + st.dictBodySize
  def encodeUtf8(col: Utf8Column): Array[Byte] = {
    val n = col.n
    val codes = new Utf8Dict(col, Int.MaxValue)
    val codeArr = new Array[Long](n)
    var i = 0
    while (i < n) {
      codeArr(i) = if (i > 0 && col.same(i, i - 1)) codeArr(i - 1) else codes.add(i).toLong
      i += 1
    }
    val card = codes.size
    val width = BitPacker.bitsForUnsigned((card - 1).toLong)
    val w = BlockHeader.write(id, n, 64 + n)
    w.putVarint(card.toLong)
    var c = 0
    while (c < card) {
      val r = codes.rowOf(c)
      w.putVarint(col.lens(r).toLong)
      w.putBytes(col.pool, col.offsets(r), col.lens(r))
      c += 1
    }
    w.putByte(width)
    w.putBytes(BitPacker.pack(codeArr, n, width))
    w.result()
  }
  def decodeUtf8(buf: Array[Byte], off: Int, end: Int): Utf8Column = {
    val (r, n) = BlockHeader.open(buf, off, end, id)
    if (n == 0) return new Utf8Column(buf, new Array[Int](0), new Array[Int](0))
    val cardL = r.getVarint()
    require(cardL >= 1 && cardL <= n && cardL <= r.remaining,
      s"implausible dict cardinality $cardL for $n rows")
    val card = cardL.toInt
    val entryOff = new Array[Int](card)
    val entryLen = new Array[Int](card)
    var i = 0
    while (i < card) {
      val l = r.getVarint()
      require(l >= 0 && l <= Int.MaxValue, s"implausible dict entry length $l")
      entryOff(i) = r.position
      entryLen(i) = l.toInt
      r.skip(entryLen(i))
      i += 1
    }
    val width = r.getByte()
    val codes = BitPacker.unpack(buf, r.position, n, width)
    val offs = new Array[Int](n)
    val lens = new Array[Int](n)
    i = 0
    while (i < n) {
      val c = codes(i)
      require(c >= 0 && c < card, s"dict code $c out of range [0, $card)")
      offs(i) = entryOff(c.toInt)
      lens(i) = entryLen(c.toInt)
      i += 1
    }
    new Utf8Column(buf, offs, lens)
  }
}

/** Run-length: `[runCount varint] (len varint, bytes, runLen varint)*`. */
case object RleStringCodec extends StringCodec {
  val id: Byte = 18
  val name = "rle"
  def size(st: StringStats): Long =
    BlockHeader.size(st.count) + PrefixVarInt.len(st.runCount.toLong) + st.rleBodySize
  def encodeUtf8(col: Utf8Column): Array[Byte] = {
    val n = col.n
    var runs = 1
    var i = 1
    while (i < n) { if (!col.same(i, i - 1)) runs += 1; i += 1 }
    val w = BlockHeader.write(id, n, n * 4 + 16)
    w.putVarint(runs.toLong)
    var start = 0
    i = 1
    while (i <= n) {
      if (i == n || !col.same(i, start)) {
        w.putVarint(col.lens(start).toLong)
        w.putBytes(col.pool, col.offsets(start), col.lens(start))
        w.putVarint((i - start).toLong)
        start = i
      }
      i += 1
    }
    w.result()
  }
  def decodeUtf8(buf: Array[Byte], off: Int, end: Int): Utf8Column = {
    val (r, n) = BlockHeader.open(buf, off, end, id)
    val runsL = r.getVarint()
    require(runsL >= 0 && runsL <= r.remaining, s"implausible RLE run count $runsL")
    val runs = runsL.toInt
    val offs = new Array[Int](n)
    val lens = new Array[Int](n)
    var pos = 0
    var k = 0
    while (k < runs) {
      val sl = r.getVarint()
      require(sl >= 0 && sl <= Int.MaxValue, s"implausible run value length $sl")
      val vOff = r.position
      val vLen = sl.toInt
      r.skip(vLen)
      val lenL = r.getVarint()
      require(lenL >= 0 && lenL <= n - pos, s"RLE run overflows row count ($lenL at $pos/$n)")
      var len = lenL.toInt
      while (len > 0) { offs(pos) = vOff; lens(pos) = vLen; pos += 1; len -= 1 }
      k += 1
    }
    require(pos == n, s"RLE runs covered $pos of $n rows")
    new Utf8Column(buf, offs, lens)
  }
}

/** FSST symbol-table compression (see [[Fsst]]). Layout:
  * `[table][decLen varints][encLen varints][encoded bytes…]` — decoded
  * lengths are kept so decode allocates exactly once per string.
  */
case object FsstStringCodec extends StringCodec {
  val id: Byte = 19
  val name = "fsst"
  /** Priced by a trial encode in [[StringCodecs.encodeBest]]. */
  def size(st: StringStats): Long = Long.MaxValue

  def encodeUtf8(col: Utf8Column): Array[Byte] = encodeWith(Fsst.train(col), col)

  /** Encode with an externally trained (possibly reused) table; the table
    * is always serialized into the block, so decode stays self-contained.
    */
  def encodeWith(table: Fsst.SymbolTable, col: Utf8Column): Array[Byte] = {
    val n = col.n
    val w = BlockHeader.write(id, n, 64)
    table.writeTo(w)
    var i = 0
    while (i < n) { w.putVarint(col.lens(i).toLong); i += 1 }
    // encode each string into a scratch, record encoded length, then bytes
    val scratch = new BlockWriter(4096)
    val encLens = new Array[Int](n)
    i = 0
    while (i < n) {
      encLens(i) = table.encodeInto(col.pool, col.offsets(i), col.lens(i), scratch)
      i += 1
    }
    i = 0
    while (i < n) { w.putVarint(encLens(i).toLong); i += 1 }
    w.putBytes(scratch.result())
    w.result()
  }

  /** Exact block size (one full train+encode; kept for tests). */
  def exactSize(values: Array[String], n: Int): Long =
    encode(values, n).length.toLong

  def decodeUtf8(buf: Array[Byte], off: Int, end: Int): Utf8Column = {
    val (r, n) = BlockHeader.open(buf, off, end, id)
    val table = Fsst.readTable(r)
    val decLens = new Array[Int](n)
    val encLens = new Array[Int](n)
    var i = 0
    while (i < n) {
      val l = r.getVarint()
      require(l >= 0 && l <= Int.MaxValue, s"implausible decoded length $l")
      decLens(i) = l.toInt
      i += 1
    }
    var totalDec = 0L
    i = 0
    while (i < n) {
      val l = r.getVarint()
      require(l >= 0 && l <= Int.MaxValue, s"implausible encoded length $l")
      encLens(i) = l.toInt
      // max expansion is 8 bytes out per encoded byte (longest symbol)
      require(decLens(i) <= 8L * l, s"decoded length ${decLens(i)} exceeds 8x encoded $l")
      totalDec += decLens(i)
      i += 1
    }
    require(totalDec <= Int.MaxValue - 16,
      s"FSST block claims $totalDec decoded bytes (exceeds one pool)")
    val pool = new Array[Byte](totalDec.toInt)
    val offs = new Array[Int](n)
    var pos = r.position
    var o = 0
    i = 0
    while (i < n) {
      require(encLens(i) <= end - pos, s"encoded bytes overrun block slice")
      offs(i) = o
      table.decodeInto(buf, pos, encLens(i), pool, o, decLens(i))
      pos += encLens(i)
      o += decLens(i)
      i += 1
    }
    new Utf8Column(pool, offs, decLens)
  }
}
