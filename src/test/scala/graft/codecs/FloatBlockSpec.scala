package graft.codecs

import org.scalatest.funsuite.AnyFunSuite
import graft.core.{BlockWriter, DecodeError}

/** ARRAY<FLOAT> blocks: `f32-raw` and `f32-rd` give back every bit
  * pattern, the encoder writes `f32-rd` only when it is strictly smaller,
  * and malformed blocks fail as controlled errors.
  */
class FloatBlockSpec extends AnyFunSuite {
  private def f(bits: Int): Float = java.lang.Float.intBitsToFloat(bits)

  /** A column of `rows`, each row's floats given as raw bits. */
  private def column(rows: Seq[Array[Int]]): FloatsColumn = {
    val lens = rows.map(_.length).toArray
    val offsets = lens.scanLeft(0)(_ + _).init
    new FloatsColumn(rows.flatten.map(f).toArray, offsets, lens)
  }

  private def bitsOf(c: FloatsColumn): Seq[Int] =
    (0 until c.n).flatMap(i => (c.offsets(i) until c.offsets(i) + c.lens(i))
      .map(j => java.lang.Float.floatToRawIntBits(c.pool(j))))

  /** Both blocks and the encoder's choice round-trip `col` bit for bit;
    * the choice is the strictly smaller block, ties to raw.
    */
  private def check(label: String, col: FloatsColumn): (String, Array[Byte], Array[Byte]) = {
    val raw = BytesCodecs.encodeRaw(col)
    val rd = BytesCodecs.encodeRd(col)
    val (name, best) = BytesCodecs.encodeFloats(col)
    assert(raw(0) === BytesCodecs.F32RawId && rd(0) === BytesCodecs.F32RdId, label)
    for (b <- Seq(raw, rd, best)) {
      val d = BytesCodecs.decodeFloats(b, 0, b.length)
      assert(d.lens.toSeq === col.lens.toSeq, label)
      assert(bitsOf(d) === bitsOf(col), s"$label: block ${b(0)}")
    }
    val rdWins = rd.length < raw.length
    assert(name === (if (rdWins) "f32-rd" else "f32-raw"), label)
    assert(best.toSeq === (if (rdWins) rd else raw).toSeq, label)
    (name, raw, rd)
  }

  /** Embedding-shaped rows: uniform floats in (-1, 1). */
  private def embeddings(rnd: java.util.Random, rows: Int, dim: Int): Seq[Array[Int]] =
    Seq.fill(rows)(Array.fill(dim)(
      java.lang.Float.floatToRawIntBits(rnd.nextFloat() * 2 - 1)))

  private val edges: Array[Int] = Array(
    0x00000000, 0x80000000, // +0.0, -0.0
    0x7fc00000, 0x7fc00001, 0xffc00123, // quiet NaNs with payloads
    0x7f800001, 0x7fbfffff, 0xff800001, // signalling NaNs
    0x7f800000, 0xff800000, // +Inf, -Inf
    0x00000001, 0x007fffff, 0x80000001, 0x807fffff, 0x00800000, // subnormals, min normal
    0x7f7fffff, 0xff7fffff) // Float.MaxValue, Float.MinValue

  test("IEEE edge bit patterns round-trip through both blocks, alone and as exceptions") {
    assert(f(0x7f7fffff) === Float.MaxValue && f(0xff7fffff) === Float.MinValue)
    check("edges alone", column(Seq(edges)))
    val rnd = new java.util.Random(0xed9eL)
    val rows = embeddings(rnd, 200, 32).zipWithIndex.map { case (r, i) =>
      r(i % r.length) = edges(i % edges.length); r }
    val (name, _, _) = check("edges among embeddings", column(rows))
    assert(name === "f32-rd")
  }

  test("chunk shapes: all-equal, zero-dim and NULL rows, one row, MaxFloatDim dims") {
    val rnd = new java.util.Random(0x5ba9eL)
    val equal = check("all equal", column(Seq.fill(500)(Array.fill(8)(0x3e800000))))
    assert(equal._1 === "f32-rd")
    // a NULL row is stored as an empty slice, like a zero-dim row
    val holes = embeddings(rnd, 300, 16).zipWithIndex.map { case (r, i) =>
      if (i % 3 == 0) Array.empty[Int] else r }
    assert(check("zero-dim and NULL rows", column(holes))._1 === "f32-rd")
    assert(check("only empty rows", column(Seq.fill(40)(Array.empty[Int])))._1 === "f32-raw")
    check("one row", column(embeddings(rnd, 1, 64)))
    check("one float", column(Seq(Array(0x3f000000))))
    val wide = embeddings(rnd, 1, BytesCodecs.MaxFloatDim) ++ Seq(Array(0x7fc00001))
    assert(check("MaxFloatDim dims", column(wide))._1 === "f32-rd")
  }

  test("a million random bit patterns: raw wins, and f32-rd still round-trips") {
    val rnd = new java.util.Random(0x1000000L)
    val rows = Seq.fill(1000)(Array.fill(1000)(rnd.nextInt()))
    val (name, raw, rd) = check("random bits", column(rows))
    assert(name === "f32-raw" && rd.length > raw.length)
    // 64 values of the top 6 bits in equal shares: a dictionary of 8
    // leaves most floats as exceptions, and a left part narrow enough to
    // hold every value costs 32 bits a float
    val heavy = Seq.fill(200)(Array.fill(64)((rnd.nextInt(64) << 26) | (rnd.nextInt() >>> 16)))
    assert(check("exception-heavy", column(heavy))._1 === "f32-raw")
  }

  test("embedding chunks take about 27 bits a float in f32-rd") {
    val rnd = new java.util.Random(64L)
    val col = column(embeddings(rnd, 1000, 64))
    val (name, _, rd) = check("embeddings", col)
    assert(name === "f32-rd")
    assert(rd.length * 8.0 / col.pool.length < 28.0, s"${rd.length} bytes")
  }

  private def hex(s: String): Array[Byte] = s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map(x => f"$x%02x").mkString

  // an f32-raw block as the writer made it before f32-rd (recorded at
  // 9e0eec6 from a `git archive` copy): rows of 2, 0, 5 and 0 floats,
  // a NaN payload and a subnormal among them; the sha256 guards the hex
  test("an f32-raw block written before f32-rd still decodes") {
    val block = PinnedRaw
    assert(sha256(hex(block)) === PinnedRawSha)
    val d = BytesCodecs.decodeFloats(hex(block), 0, block.length / 2)
    assert(d.lens.toSeq === Seq(2, 0, 5, 0))
    assert(bitsOf(d) === PinnedBits.toSeq)
    assert(BytesCodecs.encodeRaw(d).toSeq === hex(block).toSeq)
  }

  private def controlled(label: String)(body: => Any): Unit =
    try { body; fail(s"$label decoded") } catch {
      case _: IllegalArgumentException | _: DecodeError => ()
    }

  test("malformed f32-rd blocks fail as controlled errors") {
    def decode(b: Array[Byte]) = BytesCodecs.decodeFloats(b, 0, b.length)
    val valid = BytesCodecs.encodeRd(column(Seq(Array(0x3f000000, 0x3e800000, 0xbf000000, 0x3f400000))))
    decode(valid)
    // id, n = 1, dim = 4, then r and the dictionary size
    assert(valid(1) === 1 && valid(2) === 4)
    def patched(at: Int, v: Int): Array[Byte] = { val b = valid.clone(); b(at) = v.toByte; b }
    controlled("right width 15")(decode(patched(3, 15)))
    controlled("right width 32")(decode(patched(3, 32)))
    controlled("empty dictionary")(decode(patched(4, 0)))
    controlled("9-entry dictionary")(decode(patched(4, 9)))
    controlled("trailing byte")(decode(valid :+ 0.toByte))
    for (cut <- 1 until valid.length) controlled(s"cut at $cut")(decode(valid.take(cut)))
    def block(dims: Seq[Int], r: Int, dict: Seq[Int], exceptions: Int, rest: Int*): Array[Byte] = {
      val w = new BlockWriter()
      w.putByte(BytesCodecs.F32RdId)
      w.putVarint(dims.size.toLong)
      dims.foreach(d => w.putVarint(d.toLong))
      w.putByte(r)
      w.putByte(dict.size)
      dict.foreach { v => w.putByte(v); w.putByte(v >>> 8) }
      w.putVarint(exceptions.toLong)
      rest.foreach(w.putByte)
      w.result()
    }
    // two floats of left part 0x3f80 and right part 0: 1.0f twice
    assert(decode(block(Seq(2), 16, Seq(0x3f80), 0, 0, 0, 0, 0)).pool.toSeq === Seq(1.0f, 1.0f))
    controlled("code past the dictionary")(decode(block(Seq(1), 16, Seq(0, 1, 2), 0, 3, 0, 0)))
    controlled("left part wider than 15 bits")(decode(block(Seq(1), 17, Seq(0x8000), 0, 0, 0, 0)))
    controlled("exception left part wider than 15 bits")(
      decode(block(Seq(1), 17, Seq(0), 1, 0, 0, 0, 0, 0x00, 0x80)))
    controlled("more exceptions than floats")(decode(block(Seq(1), 16, Seq(0), 2, Seq.fill(8)(0): _*)))
    controlled("exception gap past the floats")(decode(block(Seq(2), 16, Seq(0), 1, 0, 0, 0, 0, 5, 0, 0)))
    // 2^20 declared floats over a few bytes: refused before the pool exists
    controlled("dims past the body")(
      decode(block(Seq(BytesCodecs.MaxFloatDim), 16, Seq(0), 0, 0, 0, 0, 0)))
  }

  private val PinnedRaw =
    "2104020005000000c03f000000800100a07f0000807f01000000ffff7f7f9a9919bf"
  private val PinnedRawSha =
    "f5ee2334a063e7ba0f2a1df8941b737133eec730138cecf254671bfd86bca484"
  private val PinnedBits = Array(0x3fc00000, 0x80000000, 0x7fa00001, 0x7f800000,
    0x00000001, 0x7f7fffff, 0xbf19999a)
}
