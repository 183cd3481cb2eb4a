package graft.codecs

import graft.core.{BlockReader, BlockWriter, PrefixVarInt}

/** One lightweight-compression codec for a chunk of Long values.
  * Block wire format: `[id: u8][count: varint][payload…]`.
  * All codecs are self-describing and independently decodable — the block
  * is the unit shipped/stored, so decode never needs external metadata.
  */
sealed trait LongCodec extends Serializable {
  def id: Byte
  def name: String
  def encode(values: Array[Long], n: Int): Array[Byte]
  final def encode(values: Array[Long]): Array[Byte] = encode(values, values.length)
  /** Decode a block that lives at buf(off until end) — zero-copy slice
    * form so container decode never duplicates block bytes. */
  def decode(buf: Array[Byte], off: Int, end: Int): Array[Long]
  final def decode(block: Array[Byte]): Array[Long] = decode(block, 0, block.length)

  protected final def header(n: Int, cap: Int): BlockWriter = {
    val w = new BlockWriter(cap)
    w.putByte(id)
    w.putVarint(n.toLong)
    w
  }
  protected final def openReader(buf: Array[Byte], off: Int, end: Int): (BlockReader, Int) = {
    val r = new BlockReader(buf, off, end)
    val gotId = r.getByte()
    require(gotId == id, s"block codec id $gotId, expected $id ($name)")
    val n = r.getVarint()
    require(n >= 0 && n <= LongCodecs.MaxDecodeRows,
      s"implausible row count $n in $name block (cap ${LongCodecs.MaxDecodeRows})")
    (r, n.toInt)
  }
}

/** Exact per-codec encoded sizes gathered in ONE pass over the chunk —
  * the stats the auto-selector consumes (north_rule: "stats-driven
  * auto-selector (cardinality, run-length, value-range histograms
  * gathered per partition)"). Sizes here are exact, not estimates, so the
  * selector is provably optimal within the suite.
  */
final case class LongStats(
    count: Int,
    min: Long,
    max: Long,
    runCount: Int,
    distinct: Int,
    distinctOverflow: Boolean,
    lenHistogram: Array[Long], // distribution over zigzag-varint length classes 1..9
    varintBodySize: Long,
    deltaBodySize: Long,
    rleBodySize: Long,
    // -1 if cardinality overflowed the tracking cap, or if the dictionary's
    // lower bound already reaches another codec's exact size
    dictBodySize: Long
) {
  def forWidth: Int = BitPacker.bitsForUnsigned(max - min)
  def bitpackWidth: Int = if (min >= 0) BitPacker.bitsForUnsigned(max) else 64
}

object LongCodecs {

  /** Cardinality cap for exact dictionary tracking; beyond this a
    * dictionary can't win against varint/FoR anyway at our chunk sizes.
    */
  final val DictCardCap = 1 << 16

  /** Decode-side sanity cap on a block's claimed row count: a corrupt or
    * hostile header must never drive an unbounded allocation. The engine
    * chunks at 64Ki rows; 16Mi leaves ample headroom for library users.
    */
  final val MaxDecodeRows = 1 << 24

  @inline private def zlen(v: Long): Int = PrefixVarInt.len(PrefixVarInt.zigzagEncode(v))

  /** One-pass stats over values(0 until n). Each value's zigzag length
    * is computed once and serves varint, delta and RLE; distinct values go
    * into a primitive set capped at [[DictCardCap]], and only a value
    * that starts a run is looked up. The dictionary's sort-and-size step
    * runs only when its lower bound (one byte per distinct value plus the
    * packed codes) is below every other codec's exact size; otherwise the
    * dictionary cannot be chosen and its size is recorded as -1.
    */
  def stats(values: Array[Long], n: Int): LongStats = {
    require(n > 0, "empty chunk")
    val hist = new Array[Long](10)
    var min = values(0)
    var max = values(0)
    var varintSize = 0L
    var deltaSize = 0L
    var runCount = 1
    var rleSize = 0L
    var runStart = 0
    var runLen = 0 // zigzag length of the current run's value
    val set = new LongOpenSet(DictCardCap, n)
    var overflow = false
    var prev = values(0)
    var i = 0
    while (i < n) {
      val v = values(i)
      if (v < min) min = v
      if (v > max) max = v
      val l = zlen(v)
      hist(l) += 1
      varintSize += l
      if (i == 0) {
        deltaSize += l
        runLen = l
        overflow = !set.add(v)
      } else {
        deltaSize += zlen(v - prev)
        if (v != prev) {
          // close the previous run
          rleSize += runLen + PrefixVarInt.len((i - runStart).toLong)
          runStart = i
          runLen = l
          runCount += 1
          if (!overflow) overflow = !set.add(v)
        }
        prev = v
      }
      i += 1
    }
    rleSize += runLen + PrefixVarInt.len((n - runStart).toLong)
    val card = set.size
    val noDict = LongStats(n, min, max, runCount, card, overflow, hist, varintSize,
      deltaSize, rleSize, -1L)
    if (overflow) return noDict
    val codes = 1 + BitPacker.packedSize(n, BitPacker.bitsForUnsigned((card - 1).toLong))
    val lowerBound = headerSize(n) + PrefixVarInt.len(card.toLong) + card + codes
    // ties go to the earlier codec in `all`, and the dictionary is last
    if (lowerBound >= all.iterator.map(sizeOf(_, noDict)).min) return noDict
    // sorted distinct values stored as first(zigzag) + positive deltas,
    // then n codes bit-packed at bits(card-1)
    val arr = set.sorted()
    var dsz = PrefixVarInt.len(card.toLong).toLong + zlen(arr(0))
    var k = 1
    while (k < card) { dsz += PrefixVarInt.len(arr(k) - arr(k - 1)); k += 1 }
    noDict.copy(dictBodySize = dsz + codes)
  }

  /** min and max of values(0 until n): all a narrow column's block needs. */
  def range(values: Array[Long], n: Int): (Long, Long) = {
    require(n > 0, "empty chunk")
    var min = values(0)
    var max = values(0)
    var i = 1
    while (i < n) {
      val v = values(i)
      if (v < min) min = v
      if (v > max) max = v
      i += 1
    }
    (min, max)
  }

  /** Open-addressing set of longs holding at most `cap` values; `add`
    * returns false when v is new and the set is full. Sized for the
    * distinct values `n` rows can hold, so it rarely grows.
    */
  private[codecs] final class LongOpenSet(cap: Int, n: Int) {
    // 0L = empty slot; 0 itself is `hasZero`
    private var keys = new Array[Long](
      Integer.highestOneBit(math.max(8, 2 * math.min(cap, n) - 1)) << 1)
    private var hasZero = false
    var size = 0

    // murmur3's 64-bit finalizer: sortable double bits and other values
    // that differ only in their high bits still spread over every slot
    @inline private def slot(v: Long, mask: Int): Int = {
      var h = v ^ (v >>> 33)
      h *= 0xff51afd7ed558ccdL
      h ^= h >>> 33
      h *= 0xc4ceb9fe1a85ec53L
      (h ^ (h >>> 33)).toInt & mask
    }

    def add(v: Long): Boolean = {
      if (v == 0L) {
        if (!hasZero) {
          if (size >= cap) return false
          hasZero = true
          size += 1
        }
        return true
      }
      val mask = keys.length - 1
      var s = slot(v, mask)
      while (keys(s) != 0L) {
        if (keys(s) == v) return true
        s = (s + 1) & mask
      }
      if (size >= cap) return false
      keys(s) = v
      size += 1
      if (2 * size > keys.length) grow()
      true
    }

    private def grow(): Unit = {
      val old = keys
      keys = new Array[Long](2 * old.length)
      val mask = keys.length - 1
      var k = 0
      while (k < old.length) {
        val v = old(k)
        if (v != 0L) {
          var s = slot(v, mask)
          while (keys(s) != 0L) s = (s + 1) & mask
          keys(s) = v
        }
        k += 1
      }
    }

    def sorted(): Array[Long] = {
      val out = new Array[Long](size)
      var j = 0
      if (hasZero) { out(0) = 0L; j = 1 }
      var k = 0
      while (k < keys.length) {
        if (keys(k) != 0L) { out(j) = keys(k); j += 1 }
        k += 1
      }
      java.util.Arrays.sort(out)
      out
    }
  }

  private def headerSize(n: Int): Long = 1L + PrefixVarInt.len(n.toLong)

  /** Exact encoded block size per codec, from stats alone. */
  def sizeOf(codec: LongCodec, st: LongStats): Long = {
    val h = headerSize(st.count)
    codec match {
      case VarintLongCodec => h + st.varintBodySize
      case DeltaLongCodec  => h + st.deltaBodySize
      case RleLongCodec    => h + PrefixVarInt.len(st.runCount.toLong) + st.rleBodySize
      case ForLongCodec =>
        h + zlen(st.min) + 1 + BitPacker.packedSize(st.count, st.forWidth)
      case BitPackLongCodec =>
        if (st.min < 0) Long.MaxValue
        else h + 1 + BitPacker.packedSize(st.count, st.bitpackWidth)
      case DictLongCodec =>
        if (st.dictBodySize < 0) Long.MaxValue else h + st.dictBodySize
    }
  }

  val all: Seq[LongCodec] =
    Seq(VarintLongCodec, DeltaLongCodec, RleLongCodec, ForLongCodec,
      BitPackLongCodec, DictLongCodec)

  /** Stats-driven auto-selection: cheapest exact size wins; ties break
    * toward the earlier codec in `all` (varint first — simplest decode).
    */
  def select(st: LongStats): LongCodec =
    all.minBy(c => sizeOf(c, st))

  def byId(id: Int): LongCodec = id match {
    case 1 => VarintLongCodec
    case 2 => DeltaLongCodec
    case 3 => RleLongCodec
    case 4 => ForLongCodec
    case 5 => BitPackLongCodec
    case 6 => DictLongCodec
    case x => throw new IllegalArgumentException(s"unknown long codec id $x")
  }

  def decode(block: Array[Byte]): Array[Long] = decodeSlice(block, 0, block.length)

  def decodeSlice(buf: Array[Byte], off: Int, end: Int): Array[Long] = {
    require(off >= 0 && off < end && end <= buf.length, "empty or out-of-range block slice")
    byId(buf(off) & 0xff).decode(buf, off, end)
  }
}

/** Zigzag + prefix-varint per value — the reference codec itself, applied
  * column-chunk-wise (reference kernels: /root/reference/src/raw.rs:60-233).
  */
case object VarintLongCodec extends LongCodec {
  val id: Byte = 1
  val name = "varint"
  def encode(values: Array[Long], n: Int): Array[Byte] = {
    val w = header(n, n * 3 + 16)
    w.putSignedVarints(values, 0, n) // batch: register-local cursor
    w.result()
  }
  def decode(buf: Array[Byte], off: Int, end: Int): Array[Long] = {
    val (r, n) = openReader(buf, off, end)
    if (n > r.remaining) graft.core.DecodeError.eob() // each value >= 1 byte
    val out = new Array[Long](n)
    val got = r.readSignedVarints(out, 0, n) // batch: register-local cursor
    if (got < n) graft.core.DecodeError.eob()
    out
  }
}

/** Delta + zigzag varint: first value, then successive differences —
  * wins on monotone-ish sequences (ordinals, offsets, keys).
  */
case object DeltaLongCodec extends LongCodec {
  val id: Byte = 2
  val name = "delta"
  def encode(values: Array[Long], n: Int): Array[Byte] = {
    val w = header(n, n * 2 + 16)
    var prev = 0L
    var i = 0
    while (i < n) {
      w.putSignedVarint(if (i == 0) values(0) else values(i) - prev)
      prev = values(i)
      i += 1
    }
    w.result()
  }
  def decode(buf: Array[Byte], off: Int, end: Int): Array[Long] = {
    val (r, n) = openReader(buf, off, end)
    if (n > r.remaining) graft.core.DecodeError.eob() // each delta >= 1 byte
    val out = new Array[Long](n)
    val got = r.readSignedVarints(out, 0, n) // batch: register-local cursor
    if (got < n) graft.core.DecodeError.eob()
    var acc = 0L
    var i = 0
    while (i < n) { acc += out(i); out(i) = acc; i += 1 }
    out
  }
}

/** Run-length encoding: `[runCount varint] (value zigzag-varint, runLen varint)*`. */
case object RleLongCodec extends LongCodec {
  val id: Byte = 3
  val name = "rle"
  def encode(values: Array[Long], n: Int): Array[Byte] = {
    val w = header(n, n + 16)
    // count runs first (cheap second pass over the chunk)
    var runs = 1
    var i = 1
    while (i < n) { if (values(i) != values(i - 1)) runs += 1; i += 1 }
    w.putVarint(runs.toLong)
    var start = 0
    i = 1
    while (i <= n) {
      if (i == n || values(i) != values(start)) {
        w.putSignedVarint(values(start))
        w.putVarint((i - start).toLong)
        start = i
      }
      i += 1
    }
    w.result()
  }
  def decode(buf: Array[Byte], off: Int, end: Int): Array[Long] = {
    val (r, n) = openReader(buf, off, end)
    val runsL = r.getVarint()
    require(runsL >= 0 && runsL <= r.remaining, // each run >= 2 bytes
      s"implausible RLE run count $runsL")
    val runs = runsL.toInt
    val out = new Array[Long](n)
    var pos = 0
    var k = 0
    while (k < runs) {
      val v = r.getSignedVarint()
      val lenL = r.getVarint()
      require(lenL >= 0 && lenL <= n - pos, s"RLE run overflows row count ($lenL at $pos/$n)")
      var len = lenL.toInt
      while (len > 0) { out(pos) = v; pos += 1; len -= 1 }
      k += 1
    }
    require(pos == n, s"RLE runs covered $pos of $n rows")
    out
  }
}

/** Frame-of-reference: subtract min, bit-pack the offsets at the minimal
  * width. `[min zigzag-varint][width u8][packed bits]`.
  */
case object ForLongCodec extends LongCodec {
  val id: Byte = 4
  val name = "for"
  def encode(values: Array[Long], n: Int): Array[Byte] = {
    var min = values(0)
    var max = values(0)
    var i = 1
    while (i < n) {
      if (values(i) < min) min = values(i)
      if (values(i) > max) max = values(i)
      i += 1
    }
    val width = BitPacker.bitsForUnsigned(max - min)
    val offsets = new Array[Long](n)
    i = 0
    while (i < n) { offsets(i) = values(i) - min; i += 1 }
    val w = header(n, 16 + BitPacker.packedSize(n, width))
    w.putSignedVarint(min)
    w.putByte(width)
    w.putBytes(BitPacker.pack(offsets, n, width))
    w.result()
  }
  def decode(buf: Array[Byte], off: Int, end: Int): Array[Long] = {
    val (r, n) = openReader(buf, off, end)
    val min = r.getSignedVarint()
    val width = r.getByte()
    val out = BitPacker.unpack(buf, r.position, n, width)
    var i = 0
    while (i < n) { out(i) += min; i += 1 }
    out
  }
}

/** Plain bit-packing of non-negative values at width bits(max).
  * Frame-of-reference with an implicit reference of 0 — kept as its own
  * codec so dense 0-based id columns skip the reference subtraction.
  */
case object BitPackLongCodec extends LongCodec {
  val id: Byte = 5
  val name = "bitpack"
  def encode(values: Array[Long], n: Int): Array[Byte] = {
    var max = 0L
    var i = 0
    while (i < n) {
      require(values(i) >= 0, "bitpack codec requires non-negative values")
      if (values(i) > max) max = values(i)
      i += 1
    }
    val width = BitPacker.bitsForUnsigned(max)
    val w = header(n, 16 + BitPacker.packedSize(n, width))
    w.putByte(width)
    w.putBytes(BitPacker.pack(values, n, width))
    w.result()
  }
  def decode(buf: Array[Byte], off: Int, end: Int): Array[Long] = {
    val (r, n) = openReader(buf, off, end)
    val width = r.getByte()
    BitPacker.unpack(buf, r.position, n, width)
  }
}

/** Dictionary: sorted distinct values (first zigzag-varint + positive
  * varint deltas), then per-row codes bit-packed at bits(card-1).
  * Wins on low-cardinality columns (dictionary codes, enum-ish longs).
  */
case object DictLongCodec extends LongCodec {
  val id: Byte = 6
  val name = "dict"
  def encode(values: Array[Long], n: Int): Array[Byte] = {
    // the sorted distinct values, from a set: no sort of all n rows
    val set = new LongCodecs.LongOpenSet(n, n)
    var i = 0
    while (i < n) {
      if (i == 0 || values(i) != values(i - 1)) set.add(values(i))
      i += 1
    }
    val sorted = set.sorted()
    val card = sorted.length
    val width = BitPacker.bitsForUnsigned((card - 1).toLong)
    val w = header(n, 16 + card * 2 + BitPacker.packedSize(n, width))
    w.putVarint(card.toLong)
    w.putSignedVarint(sorted(0))
    i = 1
    while (i < card) { w.putVarint(sorted(i) - sorted(i - 1)); i += 1 }
    w.putByte(width)
    val codes = new Array[Long](n)
    i = 0
    while (i < n) {
      codes(i) =
        if (i > 0 && values(i) == values(i - 1)) codes(i - 1)
        else java.util.Arrays.binarySearch(sorted, 0, card, values(i)).toLong
      i += 1
    }
    w.putBytes(BitPacker.pack(codes, n, width))
    w.result()
  }
  def decode(buf: Array[Byte], off: Int, end: Int): Array[Long] = {
    val (r, n) = openReader(buf, off, end)
    if (n == 0) return new Array[Long](0)
    val cardL = r.getVarint()
    require(cardL >= 1 && cardL <= n && cardL <= r.remaining + 1,
      s"implausible dict cardinality $cardL for $n rows")
    val card = cardL.toInt
    val dict = new Array[Long](card)
    dict(0) = r.getSignedVarint()
    var i = 1
    while (i < card) { dict(i) = dict(i - 1) + r.getVarint(); i += 1 }
    val width = r.getByte()
    val codes = BitPacker.unpack(buf, r.position, n, width)
    val out = new Array[Long](n)
    i = 0
    while (i < n) {
      val c = codes(i)
      require(c >= 0 && c < card, s"dict code $c out of range [0, $card)")
      out(i) = dict(c.toInt)
      i += 1
    }
    out
  }
}

/** Kind-2 (i32 / `IntegerType`) column blocks: `[count varint][count
  * zigzag prefix varints]`, decoded under the reference's
  * overflow-checked NARROW contract — the batch form of the crate's
  * u16/u32/i32 wrappers (reference: src/core.rs:77-83, 198-203; the
  * per-value iterator surface is
  * [[graft.core.BlockReader.varintIteratorI32]]): a well-formed value
  * outside i32 range raises `DecodeError.Overflow`, a truncated one
  * `DecodeError.Eob`, so a corrupted or foreign block can never
  * silently truncate into a wrong int. Encode/decode go through the
  * BATCH codec APIs (`putSignedVarints` / `readVarints`) — the
  * per-call cursor methods pay field traffic the JIT won't elide on
  * this per-chunk hot path.
  */
object IntCodecs {

  /** Values must each fit i32 (the encoder validates at buffer time). */
  def encode(values: Array[Long], n: Int): Array[Byte] = {
    val w = new BlockWriter(8 + n * 2)
    w.putVarint(n.toLong)
    w.putSignedVarints(values, 0, n)
    w.result()
  }

  def decodeSlice(buf: Array[Byte], off: Int, end: Int): Array[Int] = {
    require(off >= 0 && off < end && end <= buf.length,
      "empty or out-of-range int block slice")
    val r = new BlockReader(buf, off, end)
    val n = {
      val l = r.getVarint()
      require(l >= 0 && l <= LongCodecs.MaxDecodeRows,
        s"implausible row count $l in int block (cap ${LongCodecs.MaxDecodeRows})")
      l.toInt
    }
    val raw = new Array[Long](n)
    // readSignedVarints drains the block's tail itself (its bounds-checked
    // tail loop runs to the cursor's end): fewer decoded values than
    // claimed means the block is truncated
    if (r.readSignedVarints(raw, 0, n) < n) graft.core.DecodeError.eob()
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      val v = raw(i)
      if (v != v.toInt.toLong) throw new graft.core.DecodeError.Overflow
      out(i) = v.toInt
      i += 1
    }
    out
  }
}
