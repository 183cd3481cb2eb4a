package graft.codecs

import graft.core.{BlockReader, BlockWriter}

/** FSST-style static symbol-table string compression (Boncz, Neumann,
  * Leis: "FSST: Fast Random Access String Compression", VLDB 2020 —
  * public paper; implemented from scratch, simplified).
  *
  * A per-chunk table of up to 255 symbols (1..8 bytes, codes 0..254) is
  * trained by iterative greedy re-segmentation of a 64 KiB sample drawn
  * from rows across the chunk; code 255 escapes a literal byte. Strings
  * are encoded independently, preserving per-row random access.
  *
  * Hot-path design (the paper's §4.4 dispatch): candidate symbols are
  * packed big-endian left-aligned into a Long; lengths ≥ 3 resolve via
  * ONE probe of a 2-way hash bucket keyed on the first 3 bytes, lengths
  * 1-2 via one 65536-entry shortCodes read — no per-position allocation,
  * ≤3 table reads per input position.
  */
object Fsst {

  final val EscapeCode = 255
  final val MaxSymbols = 255
  final val MaxSymbolLen = 8
  // 5 iterations over a 64 KiB sample is the measured knee: on engine
  // content 3/32K -> 69% of raw, 5/64K -> 59%, 8/128K -> 58% (diminishing)
  final val TrainIterations = 5
  final val SampleCap = 1 << 16 // 64 KiB training sample per chunk
  final val RowSampleCap = SampleCap / 32 // at most 2 KiB of it from one row

  @inline private def packedMask(len: Int): Long = -1L << ((8 - len) * 8)

  /** Long-symbol hash buckets: 2^11 2-way buckets for ≤255 symbols
    * (~6% load); bucket occupancy is decided at symbol-SELECTION time
    * (first two candidates per bucket in gain order are admitted, the
    * rest skipped so their codes go to usable symbols).
    */
  final val HashSlots = 1 << 11
  @inline private def hash3(prefix3: Int): Int =
    (prefix3 * 0x9e3779b1) >>> (32 - 11) // fibonacci hash of the 24-bit prefix

  /** Big-endian left-aligned pack of up to 8 bytes at s(off..): one
    * unaligned word load when 8 bytes remain (the per-position hot op of
    * the greedy encoder — the byte loop was ~85% of whole-engine encode
    * inside longestMatch), byte ladder only at string tails.
    */
  @inline private def packAt(s: Array[Byte], off: Int, end: Int): Long = {
    if (end - off >= 8) graft.core.Mem.getLongBE(s, off)
    else {
      var w = 0L
      var j = 0
      val m = end - off
      while (j < m) { w |= (s(off + j) & 0xffL) << ((7 - j) * 8); j += 1 }
      w
    }
  }

  /** The encode-side lookup of a symbol table — the FSST paper's probe
    * structure (§4.4 of Boncz/Neumann/Leis): lengths >= 3 resolve through
    * one 2-way hash bucket keyed by the symbol's first 3 bytes ("lossy
    * perfect hashing" — occupancy is fixed at selection time), lengths
    * 1-2 through one 65536-entry shortCodes lookup on the first two
    * bytes. Training re-segments with the SAME lookup, so symbol gains
    * adapt to bucket eviction.
    */
  private final class Dispatch(symbols: Array[Array[Byte]]) {
    private val hashLen = new Array[Byte](2 * HashSlots)
    private val hashPacked = new Array[Long](2 * HashSlots)
    private val hashCodes = new Array[Int](2 * HashSlots)
    private val shortCodes = new Array[Int](1 << 16)
    private val code1 = new Array[Int](256)

    locally {
      java.util.Arrays.fill(shortCodes, -1)
      java.util.Arrays.fill(code1, -1)
      var c = 0
      while (c < symbols.length) {
        val sym = symbols(c)
        val first = sym(0) & 0xff
        sym.length match {
          case 1 => if (code1(first) < 0) code1(first) = c
          case 2 =>
            val k = (first << 8) | (sym(1) & 0xff)
            // len-2 beats len-1 fills (written below); first-come among len-2
            if (shortCodes(k) < 0 || (shortCodes(k) & 0xff) < 2) shortCodes(k) = (c << 8) | 2
          case l =>
            val packed = packAt(sym, 0, sym.length)
            val b = hash3((packed >>> 40).toInt) << 1 // 2-way bucket
            // first empty of the two ways; symbols arrive gain-ordered
            val idx = if (hashLen(b) == 0) b else b + 1
            if (hashLen(idx) == 0) {
              hashLen(idx) = l.toByte
              hashPacked(idx) = packed
              hashCodes(idx) = c
            }
        }
        c += 1
      }
      // backfill len-1 symbols into every (first, x) shortCodes slot not
      // already holding a len-2 symbol, so one lookup serves both lengths
      var f = 0
      while (f < 256) {
        if (code1(f) >= 0) {
          var x = 0
          while (x < 256) {
            val k = (f << 8) | x
            if (shortCodes(k) < 0) shortCodes(k) = (code1(f) << 8) | 1
            x += 1
          }
        }
        f += 1
      }
    }

    /** Longest match at s(i): returns (code << 8) | matchedLen, or -1.
      * One hash probe (len >= 3) + one shortCodes read (len 1-2).
      */
    @inline def longestMatch(s: Array[Byte], i: Int, end: Int): Int = {
      val rem = end - i
      if (rem == 1) { // no second byte: only len-1 symbols are legal
        val c1 = code1(s(i) & 0xff)
        return if (c1 >= 0) (c1 << 8) | 1 else -1
      }
      val w = packAt(s, i, end)
      val b = hash3((w >>> 40).toInt) << 1
      // 2-way bucket: prefer the LONGER matching way (greedy semantics)
      val l0 = hashLen(b)
      val l1 = hashLen(b + 1)
      val m0 = l0 != 0 && l0 <= rem && (w & packedMask(l0)) == hashPacked(b)
      val m1 = l1 != 0 && l1 <= rem && (w & packedMask(l1)) == hashPacked(b + 1)
      if (m0 && (!m1 || l0 >= l1)) return (hashCodes(b) << 8) | l0
      if (m1) return (hashCodes(b + 1) << 8) | l1
      shortCodes(((w >>> 48)).toInt & 0xffff) // already (code << 8) | len, or -1
    }
  }

  /** Training gain per candidate symbol, keyed by (packed prefix,
    * length) in one open-addressing table.
    */
  private final class Gains {
    private var packed = new Array[Long](4096)
    private var lens = new Array[Byte](4096) // 0 = empty slot
    private var gains = new Array[Long](4096)
    private var size = 0

    private def slot(p: Long, len: Int, mask: Int): Int = {
      var h = p ^ len
      h ^= h >>> 33
      h *= 0xff51afd7ed558ccdL
      h ^= h >>> 33
      h.toInt & mask
    }

    def bump(p: Long, len: Int): Unit = {
      val mask = lens.length - 1
      var s = slot(p, len, mask)
      while (lens(s) != 0 && (lens(s) != len || packed(s) != p)) s = (s + 1) & mask
      if (lens(s) != 0) gains(s) += len
      else {
        lens(s) = len.toByte
        packed(s) = p
        gains(s) = len
        size += 1
        if (2 * size > lens.length) grow()
      }
    }

    private def grow(): Unit = {
      val (oldP, oldL, oldG) = (packed, lens, gains)
      packed = new Array[Long](2 * oldL.length)
      lens = new Array[Byte](2 * oldL.length)
      gains = new Array[Long](2 * oldL.length)
      val mask = lens.length - 1
      var k = 0
      while (k < oldL.length) {
        if (oldL(k) != 0) {
          var s = slot(oldP(k), oldL(k), mask)
          while (lens(s) != 0) s = (s + 1) & mask
          lens(s) = oldL(k)
          packed(s) = oldP(k)
          gains(s) = oldG(k)
        }
        k += 1
      }
    }

    /** The symbols whose gain exceeds their table entry (length + 1
      * bytes), as a heap in selection order.
      */
    def candidates(): Candidates = {
      val c = new Candidates(size)
      var k = 0
      while (k < lens.length) {
        if (lens(k) != 0 && gains(k) > lens(k) + 1) c.add(packed(k), lens(k), gains(k))
        k += 1
      }
      c.heapify()
      c
    }
  }

  /** A binary max-heap of training candidates over primitive arrays:
    * gain desc, then len desc, then packed unsigned asc. (packed, len) is
    * unique, so the order is total and the pops come out exactly as a
    * full sort would list them.
    */
  private final class Candidates(cap: Int) {
    val packed = new Array[Long](cap)
    val len = new Array[Int](cap)
    private val gain = new Array[Long](cap)
    private val heap = new Array[Int](cap)
    private var size = 0

    def add(p: Long, l: Int, g: Long): Unit = {
      packed(size) = p; len(size) = l; gain(size) = g; heap(size) = size
      size += 1
    }

    def nonEmpty: Boolean = size > 0

    @inline private def before(a: Int, b: Int): Boolean =
      if (gain(a) != gain(b)) gain(a) > gain(b)
      else if (len(a) != len(b)) len(a) > len(b)
      else java.lang.Long.compareUnsigned(packed(a), packed(b)) < 0

    private def siftDown(from: Int): Unit = {
      var i = from
      val x = heap(i)
      var done = false
      while (!done) {
        var c = 2 * i + 1
        if (c >= size) done = true
        else {
          if (c + 1 < size && before(heap(c + 1), heap(c))) c += 1
          if (before(heap(c), x)) { heap(i) = heap(c); i = c } else done = true
        }
      }
      heap(i) = x
    }

    def heapify(): Unit = {
      var i = size / 2 - 1
      while (i >= 0) { siftDown(i); i -= 1 }
    }

    /** Index of the first candidate in selection order, removed. */
    def pop(): Int = {
      val top = heap(0)
      size -= 1
      if (size > 0) { heap(0) = heap(size); siftDown(0) }
      top
    }
  }

  /** Immutable trained table with longest-match encode lookup.
    *
    * Round-2 used a per-length hash-map ladder (up to 6 probes per input
    * position — measured ~85% of whole-engine encode cost); round 3
    * replaced it with the paper's single-bucket dispatch above, measured
    * 50 -> 100+ MB/s per thread on engine content at a BETTER ratio
    * (0.3998 -> 0.3962, because conflict-aware selection stops spending
    * codes on symbols the lookup could never return).
    */
  final class SymbolTable(val symbols: Array[Array[Byte]]) extends Serializable {
    // Encode-side dispatch, built LAZILY on the first encode (the decode
    // path — readTable per decoded block — only walks `symbols`). A
    // concurrent double build is benign: the lookup is deterministic, and
    // its final fields publish it whole through this volatile.
    @transient @volatile private var dispatchV: Dispatch = null

    private[Fsst] def dispatch: Dispatch = {
      var d = dispatchV
      if (d == null) { d = new Dispatch(symbols); dispatchV = d }
      d
    }

    /** Greedy longest-match encode of src into w; returns bytes written.
      * Worst case is 2 output bytes per input byte (every byte escaped),
      * so ONE up-front reservation covers the whole value and the loop
      * writes into the raw backing array — byte-identical output to the
      * per-putByte form, without a capacity test per output byte (round
      * 10; the per-byte form was ~27% of the engine encode leg). The
      * value is the slice `src(off until off+len)`; the lookup is fetched
      * once per value, not once per position.
      */
    def encodeInto(src: Array[Byte], off: Int, len: Int, w: BlockWriter): Int = {
      val d = dispatch
      val end = off + len
      val b = w.reserveRaw(2 * len)
      val p0 = w.rawPos
      var p = p0
      var i = off
      while (i < end) {
        val m = d.longestMatch(src, i, end)
        if (m >= 0) {
          b(p) = (m >>> 8).toByte
          p += 1
          i += m & 0xff
        } else {
          b(p) = EscapeCode.toByte
          b(p + 1) = src(i)
          p += 2
          i += 1
        }
      }
      w.advance(p - p0)
      p - p0
    }

    /** Decode one value into `dst(dstOff until dstOff+decLen)` — the
      * pool-writing form used by the column decode path (one shared
      * allocation per block instead of one per string).
      */
    def decodeInto(src: Array[Byte], off: Int, encLen: Int,
                   dst: Array[Byte], dstOff: Int, decLen: Int): Unit = {
      require(decLen >= 0 && encLen >= 0 && off >= 0 && off + encLen <= src.length,
        "FSST decode slice out of range")
      require(dstOff >= 0 && dstOff + decLen <= dst.length,
        "FSST decode destination out of range")
      var i = off
      val end = off + encLen
      var o = dstOff
      val oEnd = dstOff + decLen
      while (i < end) {
        val c = src(i) & 0xff
        if (c == EscapeCode) {
          require(i + 1 < end, "FSST escape at end of encoded bytes")
          require(o < oEnd, "FSST decode overruns declared decoded length")
          dst(o) = src(i + 1)
          o += 1
          i += 2
        } else {
          require(c < symbols.length, s"FSST code $c beyond table size ${symbols.length}")
          val sym = symbols(c)
          require(o + sym.length <= oEnd, "FSST decode overruns declared decoded length")
          System.arraycopy(sym, 0, dst, o, sym.length)
          o += sym.length
          i += 1
        }
      }
      require(o == oEnd, s"FSST decode produced ${o - dstOff} bytes, expected $decLen")
    }

    def writeTo(w: BlockWriter): Unit = {
      w.putByte(symbols.length)
      var c = 0
      while (c < symbols.length) {
        w.putByte(symbols(c).length)
        w.putBytes(symbols(c))
        c += 1
      }
    }
  }

  def readTable(r: BlockReader): SymbolTable = {
    val n = r.getByte()
    require(n <= MaxSymbols, s"FSST table claims $n symbols (max $MaxSymbols)")
    val syms = new Array[Array[Byte]](n)
    var c = 0
    while (c < n) {
      val l = r.getByte()
      require(l >= 1 && l <= MaxSymbolLen, s"FSST symbol length $l out of [1, $MaxSymbolLen]")
      syms(c) = r.getBytes(l)
      c += 1
    }
    new SymbolTable(syms)
  }

  /** Train a symbol table on [[sample]] of `col`: start from literal
    * bytes, then iteratively re-segment with the current table and promote
    * frequent symbols and adjacent-symbol concatenations by gain =
    * frequency x length (the FSST paper's bottom-up construction).
    */
  def train(col: Utf8Column): SymbolTable = trainOn(sample(col))

  def train(strings: Array[String], n: Int): SymbolTable = train(Utf8Column.of(strings, n))

  /** Up to [[SampleCap]] bytes of `col`, at most [[RowSampleCap]] from a
    * row, from rows spread over the whole chunk: chunks are sorted (repo,
    * lang, path), and a prefix sample fit them badly (synthesized source
    * content: prefix 0.84-0.89 of raw vs strided 0.54-0.66). Row i is
    * taken while the sample holds less than its share of the capped bytes
    * of rows 0..i, so a chunk that does not fit fills the sample exactly.
    */
  private[codecs] def sample(col: Utf8Column): Array[Byte] = {
    var total = 0L
    var i = 0
    while (i < col.n) { total += math.min(col.lens(i), RowSampleCap); i += 1 }
    val out = new Array[Byte](math.min(total, SampleCap.toLong).toInt)
    var taken = 0
    var seen = 0L
    i = 0
    while (i < col.n && taken < out.length) {
      val len = math.min(col.lens(i), RowSampleCap)
      seen += len
      if (taken * total < seen * out.length) {
        System.arraycopy(col.pool, col.offsets(i), out, taken, math.min(len, out.length - taken))
        taken = math.min(taken + len, out.length)
      }
      i += 1
    }
    out
  }

  private def trainOn(s: Array[Byte]): SymbolTable = {
    if (s.isEmpty) return new SymbolTable(Array.empty)

    var table = new SymbolTable(Array.empty)
    var iter = 0
    while (iter < TrainIterations) {
      val gains = new Gains
      @inline def bump(off: Int, len: Int): Unit =
        gains.bump(packAt(s, off, s.length) & packedMask(len), len)
      val d = table.dispatch
      var pos = 0
      var prevStart = -1
      var prevLen = 0
      while (pos < s.length) {
        val m = d.longestMatch(s, pos, s.length)
        val segLen = if (m >= 0) m & 0xff else 1
        bump(pos, segLen)
        if (prevStart >= 0 && prevLen + segLen <= MaxSymbolLen
            && prevStart + prevLen + segLen <= s.length)
          bump(prevStart, prevLen + segLen)
        prevStart = pos
        prevLen = segLen
        pos += segLen
      }
      // candidates in selection order ([[Candidates]]); only the ones
      // taken are ordered.
      // Selection mirrors the encode lookup's single-slot constraint: at
      // most ONE len>=3 symbol per hash slot (the first in gain order —
      // the slot's eventual winner under first-wins), so none of the 255
      // codes is wasted on a symbol the lookup could never return
      val cands = gains.candidates()
      val claims = new java.util.HashMap[Integer, Integer]()
      val syms = new java.util.ArrayList[Array[Byte]](MaxSymbols)
      while (cands.nonEmpty && syms.size < MaxSymbols) {
        val c = cands.pop()
        val packed = cands.packed(c)
        val slen = cands.len(c)
        val admit =
          if (slen < 3) true
          else { // at most TWO len>=3 symbols per 2-way bucket
            val h = Integer.valueOf(hash3((packed >>> 40).toInt))
            val cnt = claims.getOrDefault(h, 0)
            if (cnt < 2) { claims.put(h, cnt + 1); true } else false
          }
        if (admit) {
          val bytes = new Array[Byte](slen)
          var j = 0
          while (j < slen) { bytes(j) = (packed >>> ((7 - j) * 8)).toByte; j += 1 }
          syms.add(bytes)
        }
      }
      table = new SymbolTable(syms.toArray(new Array[Array[Byte]](syms.size)))
      iter += 1
    }
    table
  }
}
