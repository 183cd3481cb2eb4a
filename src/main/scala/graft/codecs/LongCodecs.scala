package graft.codecs

import graft.core.{BlockReader, PrefixVarInt}

/** One lightweight-compression codec for a chunk of Long values.
  * Block wire format: `[id: u8][count: varint][payload…]` ([[BlockHeader]]).
  * All codecs are self-describing and independently decodable — the block
  * is the unit shipped/stored, so decode never needs external metadata.
  */
sealed trait LongCodec extends Serializable {
  def id: Byte
  def name: String
  /** The exact size of [[encode]]'s block for the chunk of `st`;
    * `Long.MaxValue` when the codec cannot encode it.
    */
  def size(st: LongStats): Long
  def encode(values: Array[Long], n: Int): Array[Byte]
  final def encode(values: Array[Long]): Array[Byte] = encode(values, values.length)
  /** Decode a block that lives at buf(off until end) — zero-copy slice
    * form so container decode never duplicates block bytes. */
  def decode(buf: Array[Byte], off: Int, end: Int): Array[Long]
  final def decode(block: Array[Byte]): Array[Long] = decode(block, 0, block.length)
}

/** The chunk facts gathered in ONE pass over the chunk from which every
  * codec prices its exact block size (north_rule: "stats-driven
  * auto-selector (cardinality, run-length, value-range histograms
  * gathered per partition)"). Sizes are exact, not estimates, so the
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
    dictBodySize: Long,
    // gcd of every `v - min` as an unsigned value; 0 for a constant chunk
    gcd: Long,
    decimal: DecimalLayout
)

/** What a [[DecimalLongCodec]] block of a chunk holds: the exponent, the
  * exceptions (their count and the varint bytes of their position gaps)
  * and the range of the stored integers k = x * 10^e. `e` is -1 when the
  * chunk's sample is not decimal: the block then stores every value as an
  * exception.
  */
final case class DecimalLayout(e: Int, exceptions: Int, gapBytes: Long,
    kMin: Long, kMax: Long) {
  def bodySize(n: Int): Long =
    1L + PrefixVarInt.len(exceptions.toLong) +
      PrefixVarInt.len(PrefixVarInt.zigzagEncode(kMin)) + 1 +
      BitPacker.packedSize(n, BitPacker.bitsForUnsigned(kMax - kMin)) +
      gapBytes + 8L * exceptions
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

  @inline private[codecs] def zlen(v: Long): Int = PrefixVarInt.len(PrefixVarInt.zigzagEncode(v))

  /** One-pass stats over values(0 until n). Each value's zigzag length
    * is computed once and serves varint, delta and RLE; distinct values go
    * into a primitive set capped at [[DictCardCap]], and only a value
    * that starts a run is looked up. The gcd of the values' distances to
    * the first value (the divisor frame-of-reference's g) is kept until it
    * reaches 1. A decimal chunk ([[DecimalLongCodec.layout]]) costs one
    * more pass. The dictionary's sort-and-size step runs only when its
    * lower bound ([[dictLowerBound]]) is below every other codec's exact
    * size; otherwise the dictionary cannot be chosen and its size is
    * recorded as -1.
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
    val first = values(0)
    val gcd = new ForGcdLongCodec.Gcd
    var gcdLive = true // false once g is 1: most chunks pay one branch
    var prev = first
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
          if (gcdLive) {
            gcd.add(if (v > first) v - first else first - v)
            gcdLive = gcd.g != 1L
          }
        }
        prev = v
      }
      i += 1
    }
    rleSize += runLen + PrefixVarInt.len((n - runStart).toLong)
    val card = set.size
    val noDict = LongStats(n, min, max, runCount, card, overflow, hist, varintSize,
      deltaSize, rleSize, -1L, gcd.g, DecimalLongCodec.layout(values, n))
    if (overflow) return noDict
    val codes = 1 + BitPacker.packedSize(n, BitPacker.bitsForUnsigned((card - 1).toLong))
    // ties go to the earlier codec in `all`: the dictionary loses a tie to
    // the codecs before it and wins one against those after it
    val lower = dictLowerBound(noDict)
    val (before, dictAndAfter) = all.span(_ != DictLongCodec)
    if (before.exists(_.size(noDict) <= lower) ||
        dictAndAfter.tail.exists(_.size(noDict) < lower)) return noDict
    // sorted distinct values stored as first(zigzag) + positive deltas,
    // then n codes bit-packed at bits(card-1)
    val arr = set.sorted()
    var dsz = PrefixVarInt.len(card.toLong).toLong + zlen(arr(0))
    var k = 1
    while (k < card) { dsz += PrefixVarInt.len(arr(k) - arr(k - 1)); k += 1 }
    noDict.copy(dictBodySize = dsz + codes)
  }

  /** A lower bound on the dictionary block's size that needs no sort. Its
    * first entry is the chunk's min; each of the card-1 gaps between
    * sorted distinct values is a multiple of the gcd, so at least gcd;
    * and in a decimal chunk two decimal values differ by at least
    * 10^-e - ulp, so their gap in sortable bits is at least
    * [[DecimalLongCodec.minGap]]. Only the (at most two) gaps beside each
    * exception escape that last bound.
    */
  private[codecs] def dictLowerBound(st: LongStats): Long = {
    val card = st.distinct
    val codes = 1 + BitPacker.packedSize(st.count, BitPacker.bitsForUnsigned((card - 1).toLong))
    val gaps = card - 1L
    val gcdLen = PrefixVarInt.len(st.gcd).toLong
    val dec = st.decimal
    val gapBytes =
      if (dec.e < 0) gaps * gcdLen
      else {
        val free = math.min(gaps, 2L * dec.exceptions)
        val wide = math.max(PrefixVarInt.len(DecimalLongCodec.minGap(dec)).toLong, gcdLen)
        free * gcdLen + (gaps - free) * wide
      }
    BlockHeader.size(st.count) + PrefixVarInt.len(card.toLong) + zlen(st.min) + gapBytes + codes
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

  val all: Seq[LongCodec] =
    Seq(VarintLongCodec, DeltaLongCodec, RleLongCodec, ForLongCodec,
      BitPackLongCodec, DictLongCodec, ForGcdLongCodec, DecimalLongCodec)

  /** Stats-driven auto-selection: cheapest exact size wins; ties break
    * toward the earlier codec in `all` (varint first — simplest decode).
    */
  def select(st: LongStats): LongCodec =
    all.minBy(_.size(st))

  def byId(id: Int): LongCodec =
    all.find(_.id == id)
      .getOrElse(throw new IllegalArgumentException(s"unknown long codec id $id"))

  def decode(block: Array[Byte]): Array[Long] = decodeSlice(block, 0, block.length)

  def decodeSlice(buf: Array[Byte], off: Int, end: Int): Array[Long] =
    byId(BlockHeader.idOf(buf, off, end)).decode(buf, off, end)

  /** A DOUBLE column's block as doubles: a `decimal` block straight from
    * its integers, any other block through its sortable bits.
    */
  def decodeDoubles(buf: Array[Byte], off: Int, end: Int): Array[Double] =
    if (BlockHeader.idOf(buf, off, end) == DecimalLongCodec.id)
      DecimalLongCodec.decodeDoubles(buf, off, end)
    else DoubleBits.toDoubles(decodeSlice(buf, off, end))
}

/** Zigzag + prefix-varint per value — the reference codec itself, applied
  * column-chunk-wise (reference kernels: /root/reference/src/raw.rs:60-233).
  */
case object VarintLongCodec extends LongCodec {
  val id: Byte = 1
  val name = "varint"
  def size(st: LongStats): Long = BlockHeader.size(st.count) + st.varintBodySize
  def encode(values: Array[Long], n: Int): Array[Byte] = {
    val w = BlockHeader.write(id, n, n * 3 + 16)
    w.putSignedVarints(values, 0, n) // batch: register-local cursor
    w.result()
  }
  def decode(buf: Array[Byte], off: Int, end: Int): Array[Long] = {
    val (r, n) = BlockHeader.open(buf, off, end, id)
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
  def size(st: LongStats): Long = BlockHeader.size(st.count) + st.deltaBodySize
  def encode(values: Array[Long], n: Int): Array[Byte] = {
    val w = BlockHeader.write(id, n, n * 2 + 16)
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
    val (r, n) = BlockHeader.open(buf, off, end, id)
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
  def size(st: LongStats): Long =
    BlockHeader.size(st.count) + PrefixVarInt.len(st.runCount.toLong) + st.rleBodySize
  def encode(values: Array[Long], n: Int): Array[Byte] = {
    val w = BlockHeader.write(id, n, n + 16)
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
    val (r, n) = BlockHeader.open(buf, off, end, id)
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
  def size(st: LongStats): Long =
    BlockHeader.size(st.count) + LongCodecs.zlen(st.min) + 1 +
      BitPacker.packedSize(st.count, BitPacker.bitsForUnsigned(st.max - st.min))
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
    val w = BlockHeader.write(id, n, 16 + BitPacker.packedSize(n, width))
    w.putSignedVarint(min)
    w.putByte(width)
    w.putBytes(BitPacker.pack(offsets, n, width))
    w.result()
  }
  def decode(buf: Array[Byte], off: Int, end: Int): Array[Long] = {
    val (r, n) = BlockHeader.open(buf, off, end, id)
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
  def size(st: LongStats): Long =
    if (st.min < 0) Long.MaxValue
    else BlockHeader.size(st.count) + 1 +
      BitPacker.packedSize(st.count, BitPacker.bitsForUnsigned(st.max))
  def encode(values: Array[Long], n: Int): Array[Byte] = {
    var max = 0L
    var i = 0
    while (i < n) {
      require(values(i) >= 0, "bitpack codec requires non-negative values")
      if (values(i) > max) max = values(i)
      i += 1
    }
    val width = BitPacker.bitsForUnsigned(max)
    val w = BlockHeader.write(id, n, 16 + BitPacker.packedSize(n, width))
    w.putByte(width)
    w.putBytes(BitPacker.pack(values, n, width))
    w.result()
  }
  def decode(buf: Array[Byte], off: Int, end: Int): Array[Long] = {
    val (r, n) = BlockHeader.open(buf, off, end, id)
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
  def size(st: LongStats): Long =
    if (st.dictBodySize < 0) Long.MaxValue else BlockHeader.size(st.count) + st.dictBodySize
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
    val w = BlockHeader.write(id, n, 16 + card * 2 + BitPacker.packedSize(n, width))
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
    val (r, n) = BlockHeader.open(buf, off, end, id)
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

/** Frame-of-reference with a common divisor: subtract min, divide by g,
  * the gcd of every `v - min`, and bit-pack the quotients at the minimal
  * width. `[min zigzag-varint][g varint][width u8][packed bits]`. Wins on
  * values on a grid: whole-second timestamps in microseconds, whole
  * thousands. g = 0 marks a constant chunk. Distances are unsigned, so a
  * chunk spanning `Long.MinValue` to `Long.MaxValue` needs no guard.
  */
case object ForGcdLongCodec extends LongCodec {
  val id: Byte = 7
  val name = "for-gcd"

  /** gcd of g and d as unsigned values; gcd(0, d) = d. */
  private def gcd(g: Long, d: Long): Long = {
    var a = d
    var b = g
    while (b != 0L) { val t = java.lang.Long.remainderUnsigned(a, b); a = b; b = t }
    a
  }

  /** Bits of the largest quotient, `range / g`. */
  def width(range: Long, g: Long): Int =
    if (g == 0L) 0 else BitPacker.bitsForUnsigned(java.lang.Long.divideUnsigned(range, g))

  /** Running gcd of unsigned distances, left alone once it reaches 1. A
    * distance that g already divides costs one multiply (the odd part's
    * inverse mod 2^64, Granlund-Montgomery), so a chunk on a fixed grid
    * divides only when g changes. [[quotient]] divides exactly the same way.
    */
  private[codecs] final class Gcd {
    var g = 0L
    private var shift = 0
    private var inv = 0L
    private var limit = 0L

    def add(d: Long): Unit =
      if (g != 1L && d != 0L && !divides(d)) {
        g = gcd(g, d)
        shift = java.lang.Long.numberOfTrailingZeros(g)
        val odd = g >>> shift
        var x = odd // odd * odd = 1 mod 8; each Newton step doubles the bits
        var k = 0
        while (k < 5) { x *= 2 - odd * x; k += 1 }
        inv = x
        limit = java.lang.Long.divideUnsigned(-1L, odd)
      }

    @inline private def divides(d: Long): Boolean =
      g != 0L && java.lang.Long.numberOfTrailingZeros(d) >= shift &&
        java.lang.Long.compareUnsigned((d >>> shift) * inv, limit) <= 0

    /** d / g for a multiple d of g. */
    @inline def quotient(d: Long): Long = (d >>> shift) * inv
  }

  def size(st: LongStats): Long =
    BlockHeader.size(st.count) + LongCodecs.zlen(st.min) + PrefixVarInt.len(st.gcd) + 1 +
      BitPacker.packedSize(st.count, width(st.max - st.min, st.gcd))

  def encode(values: Array[Long], n: Int): Array[Byte] = {
    var min = values(0)
    var max = values(0)
    val acc = new Gcd
    var i = 1
    while (i < n) {
      val v = values(i)
      if (v < min) min = v
      if (v > max) max = v
      acc.add(if (v > values(0)) v - values(0) else values(0) - v)
      i += 1
    }
    val g = acc.g
    val width = this.width(max - min, g)
    val quotients = new Array[Long](n)
    if (g != 0L) {
      i = 0
      while (i < n) { quotients(i) = acc.quotient(values(i) - min); i += 1 }
    }
    val w = BlockHeader.write(id, n, 24 + BitPacker.packedSize(n, width))
    w.putSignedVarint(min)
    w.putVarint(g)
    w.putByte(width)
    w.putBytes(BitPacker.pack(quotients, n, width))
    w.result()
  }

  def decode(buf: Array[Byte], off: Int, end: Int): Array[Long] = {
    val (r, n) = BlockHeader.open(buf, off, end, id)
    val min = r.getSignedVarint()
    val g = r.getVarint()
    val width = r.getByte()
    val out = BitPacker.unpack(buf, r.position, n, width)
    var i = 0
    while (i < n) { out(i) = min + out(i) * g; i += 1 }
    out
  }
}

/** Decimal doubles, the core of ALP (*Adaptive Lossless floating-Point
  * Compression*, SIGMOD 2024). The values are DOUBLE sortable bits
  * ([[DoubleBits]]); a chunk of decimals with at most e fraction digits
  * is stored as the integers k = round(x * 10^e) by frame-of-reference
  * and decodes as k / 10^e. One e per chunk, picked on a sample, so data
  * that is not decimal (BIGINT or timestamp bits read as doubles) is
  * told apart at once. A value whose bits do not come back exactly
  * (-0.0, NaN, ±Inf, |x * 10^e| >= 2^51, more digits than e) is an
  * exception kept at its position with its raw IEEE bits, so decode is
  * bit-exact for any Long array.
  * `[e u8][exceptions varint][kMin zigzag-varint][width u8][packed k - kMin]
  * (position gap varint, raw bits u64 LE)*` — the first gap is the first
  * position; an exception's k slot holds kMin.
  */
case object DecimalLongCodec extends LongCodec {
  val id: Byte = 8
  val name = "decimal"
  final val MaxExp = 18
  private final val SampleSize = 32
  // 10^e is exact in a double for e <= 22, and each product rounds exactly
  private val Pow10: Array[Double] = Array.iterate(1.0, MaxExp + 1)(_ * 10.0)
  // |x * 10^e| below 2^51 rounds to an integer by adding and taking away
  // 2^52 + 2^51 (ALP's fast round): the sum's ulp is 1
  private final val Limit = 2251799813685248.0 // 2^51
  private final val Magic = 6755399441055744.0 // 2^52 + 2^51
  private final val NoK = Long.MinValue

  // sortable bits <-> raw IEEE bits (an involution that keeps NaN payloads)
  @inline private def flip(v: Long): Long = v ^ ((v >> 63) & 0x7fffffffffffffffL)

  /** k with k / 10^e equal to v's double bit for bit, else NoK. */
  @inline private def kOf(v: Long, p: Double): Long = {
    val raw = flip(v)
    val y = java.lang.Double.longBitsToDouble(raw) * p
    if (!(math.abs(y) < Limit)) return NoK // also NaN
    val k = (y + Magic) - Magic
    if (java.lang.Double.doubleToRawLongBits(k / p) == raw) k.toLong else NoK
  }

  /** The smallest e at which the most of an evenly spaced sample of up to
    * 32 values round-trips; -1 unless that is at least half the sample
    * and one of them is not zero (a BIGINT chunk's zeros are decimals).
    */
  private def exponent(values: Array[Long], n: Int): Int = {
    val m = math.min(n, SampleSize)
    var best = -1
    var bestHits = 0
    var e = 0
    while (e <= MaxExp && bestHits < m) {
      val p = Pow10(e)
      var hits = 0
      var nonZero = false
      var j = 0
      while (j < m) {
        val k = kOf(values((j.toLong * n / m).toInt), p)
        if (k != NoK) { hits += 1; if (k != 0L) nonZero = true }
        j += 1
      }
      if (nonZero && hits > bestHits) { best = e; bestHits = hits }
      e += 1
    }
    if (2 * bestHits >= m) best else -1
  }

  /** One pass at exponent e: the layout, and each value's k (NoK for an
    * exception) into `ks` when it is given.
    */
  private def scan(values: Array[Long], n: Int, e: Int, ks: Array[Long]): DecimalLayout = {
    val p = if (e < 0) 0.0 else Pow10(e)
    var exceptions = 0
    var gapBytes = 0L
    var last = 0
    var kMin = Long.MaxValue
    var kMax = Long.MinValue
    var i = 0
    while (i < n) {
      val k = if (e < 0) NoK else kOf(values(i), p)
      if (ks != null) ks(i) = k
      if (k == NoK) {
        gapBytes += PrefixVarInt.len((i - last).toLong)
        last = i
        exceptions += 1
      } else {
        if (k < kMin) kMin = k
        if (k > kMax) kMax = k
      }
      i += 1
    }
    if (exceptions == n) { kMin = 0L; kMax = 0L }
    DecimalLayout(e, exceptions, gapBytes, kMin, kMax)
  }

  /** The layout [[encode]] writes for values(0 until n); a chunk whose
    * sample is not decimal needs no pass: every value is an exception.
    */
  def layout(values: Array[Long], n: Int): DecimalLayout = {
    val e = exponent(values, n)
    if (e < 0) DecimalLayout(-1, n, n.toLong, 0L, 0L) else scan(values, n, e, null)
  }

  /** The least gap, in sortable bits, between two distinct decimal values
    * of a chunk of this layout (at least 1). Both are within
    * M = (max |k| + 1) / 10^e of zero, where no two neighbouring doubles are
    * more than ulp(M) apart, and they differ by at least 10^-e - ulp(M).
    */
  def minGap(l: DecimalLayout): Long = {
    val p = Pow10(l.e)
    val m = (math.max(math.abs(l.kMin.toDouble), math.abs(l.kMax.toDouble)) + 1.0) / p
    val steps = (1.0 / p) / math.ulp(m) * (1.0 - 1e-9) - 2.0
    if (steps >= 1.0) steps.toLong else 1L
  }

  def size(st: LongStats): Long = BlockHeader.size(st.count) + st.decimal.bodySize(st.count)

  def encode(values: Array[Long], n: Int): Array[Byte] = {
    val ks = new Array[Long](n)
    val l = scan(values, n, exponent(values, n), ks)
    val width = BitPacker.bitsForUnsigned(l.kMax - l.kMin)
    val w = BlockHeader.write(id, n, 16 + l.bodySize(n).toInt)
    w.putByte(math.max(l.e, 0))
    w.putVarint(l.exceptions.toLong)
    w.putSignedVarint(l.kMin)
    w.putByte(width)
    val positions = new Array[Int](l.exceptions)
    var x = 0
    var i = 0
    while (i < n) {
      if (ks(i) == NoK) { positions(x) = i; x += 1; ks(i) = 0L }
      else ks(i) -= l.kMin
      i += 1
    }
    w.putBytes(BitPacker.pack(ks, n, width))
    var last = 0
    x = 0
    while (x < positions.length) {
      w.putVarint((positions(x) - last).toLong)
      w.putLongLE(flip(values(positions(x))))
      last = positions(x)
      x += 1
    }
    w.result()
  }

  def decode(buf: Array[Byte], off: Int, end: Int): Array[Long] = {
    val b = open(buf, off, end)
    val out = b.ks
    var i = 0
    while (i < out.length) {
      out(i) = flip(java.lang.Double.doubleToRawLongBits((b.kMin + out(i)).toDouble / b.p))
      i += 1
    }
    b.exceptions((pos, raw) => out(pos) = flip(raw))
    out
  }

  /** The block's doubles: k / 10^e, and each exception from its raw bits
    * — bit for bit [[decode]]'s values through [[DoubleBits]], without
    * the two sortable-bit flips.
    */
  def decodeDoubles(buf: Array[Byte], off: Int, end: Int): Array[Double] = {
    val b = open(buf, off, end)
    val ks = b.ks
    val out = new Array[Double](ks.length)
    var i = 0
    while (i < out.length) { out(i) = (b.kMin + ks(i)).toDouble / b.p; i += 1 }
    b.exceptions((pos, raw) => out(pos) = java.lang.Double.longBitsToDouble(raw))
    out
  }

  /** A block past its packed integers: `ks` holds k - kMin per row, and
    * `exceptions` hands each exception's row and raw bits on.
    */
  private final class Opened(r: BlockReader, val ks: Array[Long], val kMin: Long,
                             val p: Double, count: Long) {
    def exceptions(put: (Int, Long) => Unit): Unit = {
      val n = ks.length
      var pos = 0L
      var j = 0
      while (j < count) {
        val gap = r.getVarint()
        require(gap >= (if (j == 0) 0L else 1L) && gap < n - pos,
          s"decimal exception gap $gap at row $pos of $n")
        pos += gap
        put(pos.toInt, r.getLongLE())
        j += 1
      }
    }
  }

  private def open(buf: Array[Byte], off: Int, end: Int): Opened = {
    val (r, n) = BlockHeader.open(buf, off, end, id)
    val e = r.getByte()
    require(e <= MaxExp, s"decimal exponent $e above $MaxExp")
    val exceptions = r.getVarint()
    require(exceptions >= 0 && exceptions <= n, s"$exceptions exceptions in $n rows")
    val kMin = r.getSignedVarint()
    val width = r.getByte()
    val ks = BitPacker.unpack(buf, r.position, n, width)
    r.skip(BitPacker.packedSize(n, width))
    new Opened(r, ks, kMin, Pow10(e), exceptions)
  }
}

/** Kind-2 (i32 / `IntegerType`), DATE and FLOAT column blocks, decoded
  * under the reference's overflow-checked NARROW contract — the batch
  * form of the crate's u16/u32/i32 wrappers (reference:
  * src/core.rs:77-83, 198-203; the per-value iterator surface is
  * [[graft.core.BlockReader.varintIteratorI32]]): a well-formed value
  * outside i32 range raises `DecodeError.Overflow`, so a corrupted or
  * foreign block can never silently truncate into a wrong int.
  *
  * A block is `[0x00][long codec block]`: the values go through the one
  * stats-driven selector of [[LongCodecs]], like BIGINT. Blocks written
  * before that are `[count varint][count zigzag prefix varints]`; a chunk
  * has at least one row, so their first byte is never 0x00, and they
  * still decode.
  */
object IntCodecs {

  /** First byte of a block that holds a long codec block. */
  final val Marker: Byte = 0

  /** `codec`'s block of values(0 until n), each of which fits i32 (the
    * encoder validates at buffer time), behind the marker byte.
    */
  def encode(codec: LongCodec, values: Array[Long], n: Int): Array[Byte] = {
    val block = codec.encode(values, n)
    val out = new Array[Byte](block.length + 1)
    out(0) = Marker
    System.arraycopy(block, 0, out, 1, block.length)
    out
  }

  /** The block the selector picks for values(0 until n). */
  def encode(values: Array[Long], n: Int): Array[Byte] =
    encode(LongCodecs.select(LongCodecs.stats(values, n)), values, n)

  def decodeSlice(buf: Array[Byte], off: Int, end: Int): Array[Int] =
    narrow(
      if (BlockHeader.idOf(buf, off, end) == Marker) LongCodecs.decodeSlice(buf, off + 1, end)
      else varints(buf, off, end),
      Int.MinValue, Int.MaxValue)

  /** `raw` as ints, each of which must lie in [lo, hi]: a value outside
    * raises `DecodeError.Overflow`.
    */
  def narrow(raw: Array[Long], lo: Int, hi: Int): Array[Int] = {
    val out = new Array[Int](raw.length)
    var i = 0
    while (i < raw.length) {
      val v = raw(i)
      if (v < lo || v > hi) throw new graft.core.DecodeError.Overflow
      out(i) = v.toInt
      i += 1
    }
    out
  }

  /** The values of a block written before the marker: the BATCH varint
    * API (`readSignedVarints`), since the per-call cursor methods pay
    * field traffic the JIT won't elide on this per-chunk hot path.
    */
  private def varints(buf: Array[Byte], off: Int, end: Int): Array[Long] = {
    val r = new BlockReader(buf, off, end)
    val n = BlockHeader.rows(r)
    val raw = new Array[Long](n)
    // readSignedVarints drains the block's tail itself (its bounds-checked
    // tail loop runs to the cursor's end): fewer decoded values than
    // claimed means the block is truncated
    if (r.readSignedVarints(raw, 0, n) < n) graft.core.DecodeError.eob()
    raw
  }
}
