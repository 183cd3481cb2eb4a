package graft.codecs

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

class BitPackerSpec extends AnyFunSuite {
  test("pack/unpack round-trips at every width 0..64, all bit offsets") {
    val rnd = new Random(42)
    for (width <- 0 to 64; n <- Seq(1, 7, 64, 65, 1000)) {
      val mask = if (width == 64) -1L else (1L << width) - 1
      val values = Array.fill(n)(rnd.nextLong() & mask)
      val packed = BitPacker.pack(values, n, width)
      assert(packed.length === BitPacker.packedSize(n, width))
      val got = BitPacker.unpack(packed, 0, n, width)
      assert(got.toSeq === values.toSeq, s"width=$width n=$n")
    }
  }
  test("bitsForUnsigned") {
    assert(BitPacker.bitsForUnsigned(0L) === 0)
    assert(BitPacker.bitsForUnsigned(1L) === 1)
    assert(BitPacker.bitsForUnsigned(255L) === 8)
    assert(BitPacker.bitsForUnsigned(256L) === 9)
    assert(BitPacker.bitsForUnsigned(-1L) === 64)
  }
}

class LongCodecsSpec extends AnyFunSuite {
  private val rnd = new Random(0xab)

  private def chunks: Seq[(String, Array[Long])] = Seq(
    "uniform64" -> Array.fill(5000)(rnd.nextLong()),
    "small" -> Array.fill(5000)(rnd.nextInt(100).toLong),
    "monotone" -> Array.iterate(1000000L, 5000)(_ + rnd.nextInt(10)),
    "runs" -> Array.tabulate(5000)(i => (i / 97).toLong),
    "lowcard" -> Array.fill(5000)(Seq(7L, -3L, 1L << 40, 0L)(rnd.nextInt(4))),
    "clustered" -> Array.fill(5000)(1_000_000_000L + rnd.nextInt(1000)),
    "negatives" -> Array.fill(5000)(rnd.nextLong() >> rnd.nextInt(64)),
    "constant" -> Array.fill(5000)(42L),
    "single" -> Array(-7L),
    "extremes" -> Array(Long.MinValue, Long.MaxValue, 0L, -1L, 1L)
  )

  test("every codec round-trips every chunk shape (where applicable)") {
    for ((label, data) <- chunks; codec <- LongCodecs.all) {
      val applicable = codec match {
        case BitPackLongCodec => data.forall(_ >= 0)
        case DictLongCodec    => data.distinct.length <= LongCodecs.DictCardCap
        case _                => true
      }
      if (applicable) {
        val block = codec.encode(data)
        val got = LongCodecs.decode(block) // via registry dispatch on id byte
        assert(got.toSeq === data.toSeq, s"$label via ${codec.name}")
      }
    }
  }

  test("stats sizes are exact: sizeOf == actual encoded length") {
    for ((label, data) <- chunks) {
      val st = LongCodecs.stats(data, data.length)
      for (codec <- LongCodecs.all) {
        val predicted = codec.size(st)
        if (predicted != Long.MaxValue) {
          val actual = codec.encode(data).length.toLong
          assert(predicted === actual, s"$label via ${codec.name}")
        }
      }
    }
  }

  test("selector picks the smallest codec on its own stats (never beaten by a fixed choice)") {
    for ((label, data) <- chunks) {
      val st = LongCodecs.stats(data, data.length)
      val chosen = LongCodecs.select(st)
      val chosenSize = chosen.encode(data).length
      for (codec <- LongCodecs.all if codec.size(st) != Long.MaxValue) {
        assert(chosenSize <= codec.encode(data).length, s"$label: ${chosen.name} beaten by ${codec.name}")
      }
    }
  }

  test("selector picks the intuitively right codec per distribution") {
    def chosen(data: Array[Long]) = LongCodecs.select(LongCodecs.stats(data, data.length)).name
    assert(chosen(Array.tabulate(5000)(i => (i / 97).toLong)) === "rle")
    assert(chosen(Array.fill(5000)(1_000_000_000L + rnd.nextInt(1000))) === "for")
    val mono = Array.iterate(1L << 40, 5000)(_ + 1 + rnd.nextInt(3))
    assert(chosen(mono) === "delta")
  }

  private def sortable(d: Double): Long = DoubleBits.toSortableLong(d)

  test("stats selection at the boundaries equals the smallest actual encode") {
    val cap = LongCodecs.DictCardCap
    val r = new Random(0x5e1ec7)
    def shuffled(a: Array[Long]): Array[Long] = r.shuffle(a.toSeq).toArray
    val cases = Seq(
      "zero" -> Array(0L),
      "zeros" -> Array.fill(3000)(0L),
      "min/max" -> Array.fill(3000)(if (r.nextBoolean()) Long.MinValue else Long.MaxValue),
      "min/max/0 runs" -> Array.tabulate(3000)(i => Seq(Long.MinValue, 0L, Long.MaxValue)((i / 100) % 3)),
      "cap distinct" -> shuffled(Array.tabulate(cap)(i => i * 3L)),
      "cap+1 distinct" -> shuffled(Array.tabulate(cap + 1)(i => i * 3L)),
      "cap distinct, each twice" -> shuffled(Array.tabulate(2 * cap)(i => (i % cap) * 1000L)),
      "cap+1 distinct, repeated" ->
        shuffled(Array.tabulate(2 * cap)(i => (i % (cap + 1)) * 1000L)),
      "cap distinct incl. extremes" -> shuffled(Array.tabulate(2 * cap)(i =>
        if (i % cap == 0) Long.MinValue else if (i % cap == 1) Long.MaxValue
        else (i % cap) * 1000L)),
      // the divisor frame-of-reference and decimal doubles against the
      // dictionary: its lower bound must never skip a chunk it wins
      "seconds in micros" -> Array.fill(cap)(1_700_000_000_000_000L + r.nextInt(1 << 28) * 1000000L),
      "few seconds in micros" -> Array.fill(cap)(1_700_000_000_000_000L + r.nextInt(40) * 1000000L),
      "cap distinct multiples of 10^6" -> shuffled(Array.tabulate(cap)(i => i * 1000000L)),
      "multiples of 2^40" -> Array.fill(3000)(r.nextInt(1000) * (1L << 40)),
      "gcd 2^63" -> Array.fill(3000)(if (r.nextBoolean()) 0L else Long.MinValue),
      "cents" -> Array.fill(cap)(sortable(r.nextInt(10000000) / 100.0)),
      "few cents" -> Array.fill(cap)(sortable(r.nextInt(11) / 100.0)),
      "cap distinct cents" -> shuffled(Array.tabulate(cap)(i => sortable(i / 100.0))),
      "dense cents near zero" -> Array.fill(3000)(sortable(r.nextInt(300) / 100.0)),
      "cents with exceptions" -> Array.tabulate(cap)(i =>
        if (i % 97 == 0) sortable(Seq(-0.0, Double.NaN, 1e300, math.Pi)(i % 4))
        else sortable(r.nextInt(10000000) / 100.0)),
      "whole doubles" -> Array.fill(cap)(sortable((r.nextInt(50) + 1).toDouble)),
      "negative cents" -> Array.fill(3000)(sortable(-r.nextInt(100000) / 100.0)),
      "random doubles" -> Array.fill(3000)(sortable(r.nextGaussian() * 1e3)))
    for ((label, data) <- cases) {
      val n = data.length
      val st = LongCodecs.stats(data, n)
      assert(st.min === data.min && st.max === data.max, label)
      val distinct = data.distinct.length
      val sizes = LongCodecs.all.collect {
        case c if (c != BitPackLongCodec || data.forall(_ >= 0)) &&
            (c != DictLongCodec || distinct <= cap) => c -> c.encode(data, n).length.toLong
      }
      // the first codec (in `all` order) of the smallest actual size
      val expected = sizes.minBy(_._2)._1
      val chosen = LongCodecs.select(st)
      assert(chosen === expected, s"$label: sizes $sizes")
      assert(chosen.size(st) === sizes.toMap.apply(chosen), label)
      assert(LongCodecs.decode(chosen.encode(data, n)).toSeq === data.toSeq, label)
    }
  }

  test("the dictionary's lower bound never exceeds its encoded size") {
    val r = new Random(0xd1c7)
    val grids = Seq(1L, 3L, 1000L, 1000000L, 1L << 40)
    val shapes = for (g <- grids; card <- Seq(2, 50, 3000); n <- Seq(300, 20000)) yield
      s"g=$g card=$card n=$n" -> {
        val vals = Array.fill(card)(r.nextInt(1 << 20).toLong * g - (1L << 19) * g)
        Array.fill(n)(vals(r.nextInt(card)))
      }
    val decimals = for (e <- Seq(0, 2, 5); card <- Seq(2, 50, 3000); exc <- Seq(0, 7)) yield
      s"e=$e card=$card exceptions=$exc" -> {
        val vals = Array.fill(card)(sortable(r.nextInt(1 << 24) / math.pow(10, e)))
        val specials = Array(-0.0, Double.NaN, math.E, 1e-300, 1e300).map(sortable)
        Array.tabulate(20000)(i => if (i < exc) specials(i % specials.length) else vals(r.nextInt(card)))
      }
    for ((label, data) <- shapes ++ decimals) {
      val st = LongCodecs.stats(data, data.length)
      val dict = DictLongCodec.encode(data).length
      assert(LongCodecs.dictLowerBound(st) <= dict, label)
      assert(st.dictBodySize < 0 || DictLongCodec.size(st) === dict, label)
    }
  }

  test("divisor frame-of-reference: full span, g = 1, 2^k, 10^6, 2^63 and one value") {
    val r = new Random(0x9cd)
    def grid(base: Long, g: Long, n: Int, q: Int): Array[Long] =
      Array(base, base + g) ++ Array.fill(n)(base + r.nextInt(q) * g)
    val cases = Seq(
      ("full span", Array(Long.MinValue, Long.MaxValue, 0L, -1L, 1L), 1L, 64),
      ("g = 1", grid(-500L, 1L, 1000, 1 << 20), 1L, 20),
      ("g = 2^20", grid(0L, 1L << 20, 1000, 1 << 12), 1L << 20, 12),
      ("g = 2^44 from Long.MinValue", grid(Long.MinValue, 1L << 44, 1000, 1 << 19), 1L << 44, 19),
      ("g = 10^6", grid(1_700_000_000_000_000L, 1000000L, 1000, 1 << 28), 1000000L, 28),
      ("g = 2^63", Array(0L, Long.MinValue, 0L, Long.MinValue), Long.MinValue, 1),
      ("one value", Array(-7L), 0L, 0),
      ("constant", Array.fill(100)(42L), 0L, 0))
    for ((label, data, g, width) <- cases) {
      val st = LongCodecs.stats(data, data.length)
      assert(st.gcd === g, label)
      assert(ForGcdLongCodec.width(st.max - st.min, st.gcd) === width, label)
      val block = ForGcdLongCodec.encode(data)
      assert(ForGcdLongCodec.size(st) === block.length, label)
      assert(LongCodecs.decode(block).toSeq === data.toSeq, label)
    }
  }

  test("varint codec compressed size matches reference length semantics") {
    val data = Array.fill(4096)(rnd.nextInt(128).toLong) // all zigzag to <= 0xff... 1-2 bytes
    val block = VarintLongCodec.encode(data)
    val expected = 1 + 2 + data.map(v =>
      graft.core.PrefixVarInt.len(graft.core.PrefixVarInt.zigzagEncode(v))).sum
    assert(block.length === expected)
  }
}

class DecimalLongCodecSpec extends AnyFunSuite {
  private def raw(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)
  // DoubleBits' order-preserving map, over raw bits (NaN payloads kept)
  private def sortable(bits: Long): Long = bits ^ ((bits >> 63) & 0x7fffffffffffffffL)

  private def roundTrip(label: String, bits: Array[Long]): DecimalLayout = {
    val vs = bits.map(sortable)
    val block = DecimalLongCodec.encode(vs)
    assert(LongCodecs.decode(block).toSeq === vs.toSeq, label)
    // the DOUBLE columns' direct decode: the same doubles, bit for bit
    assert(LongCodecs.decodeDoubles(block, 0, block.length).map(raw).toSeq === bits.toSeq, label)
    val st = LongCodecs.stats(vs, vs.length)
    assert(DecimalLongCodec.size(st) === block.length.toLong, label)
    assert(LongCodecs.decode(LongCodecs.select(st).encode(vs)).toSeq === vs.toSeq, label)
    st.decimal
  }

  private val specials: Array[Long] = Array(
    raw(0.0), raw(-0.0), raw(Double.PositiveInfinity), raw(Double.NegativeInfinity),
    raw(Double.MinPositiveValue), raw(-Double.MinPositiveValue), raw(2.5e-310),
    raw(java.lang.Double.MIN_NORMAL / 3), raw(Double.MaxValue), raw(-Double.MaxValue),
    raw(0.1 + 0.2), raw(1e14), raw(-3e15),
    0x7ff8000000000000L, 0x7ff8000000000001L, 0x7ff0000000000001L,
    0xfff8000000000000L, 0x7fffffffffffffffL, 0xffffffffffffffffL)

  test("decimal doubles round-trip bit-exactly: zeros, NaN payloads, infinities, subnormals, extremes") {
    val alone = roundTrip("specials alone", specials)
    assert(alone.e === -1 && alone.exceptions === specials.length, "not a decimal sample")
    // among cents the chunk picks e = 2, and every special but +0.0 is an
    // exception: -0.0, NaNs, infinities, subnormals, Double.MaxValue,
    // 0.1 + 0.2, and 1e14 and -3e15 (|x * 100| >= 2^51)
    val r = new Random(0xa1b)
    val cents = Array.fill(400)(raw(r.nextInt(10000000) / 100.0))
    val mixed = cents.zipWithIndex.map { case (c, i) =>
      if (i % 20 == 7) specials((i / 20) % specials.length) else c }
    val l = roundTrip("specials among cents", mixed)
    assert(l.e === 2)
    assert(l.exceptions === mixed.indices.count(i => i % 20 == 7 && (i / 20) % specials.length != 0))
  }

  test("k / 10^e round-trips with no exception for every e in 0..18") {
    val r = new Random(0x10e)
    for (e <- 0 to DecimalLongCodec.MaxExp) {
      // the double nearest the decimal k * 10^-e, as a parser reads it
      val bits = Array.fill(500)(raw(java.math.BigDecimal.valueOf(
        r.nextInt(2000001) - 1000000L, e).doubleValue()))
      val l = roundTrip(s"e = $e", bits)
      assert(l.e === e && l.exceptions === 0, s"e = $e")
    }
  }

  test("non-decimal chunks are told apart by the sample and never chosen") {
    val r = new Random(0x5a)
    for ((label, vs) <- Seq(
        "bigint ids" -> Array.tabulate(1000)(i => i.toLong),
        "booleans" -> Array.fill(1000)(if (r.nextBoolean()) 1L else 0L),
        "timestamps" -> Array.fill(1000)(1_700_000_000_000_000L + r.nextInt()),
        "gaussian doubles" -> Array.fill(1000)(DoubleBits.toSortableLong(r.nextGaussian())))) {
      val st = LongCodecs.stats(vs, vs.length)
      assert(st.decimal.e === -1, label)
      assert(LongCodecs.select(st) !== DecimalLongCodec, label)
      assert(LongCodecs.decode(DecimalLongCodec.encode(vs)).toSeq === vs.toSeq, label)
    }
  }
}

class IntCodecsSpec extends AnyFunSuite {
  private def hex(s: String): Array[Byte] = s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map(x => f"$x%02x").mkString

  test("narrow blocks round-trip Int.MinValue and Int.MaxValue through every long codec") {
    val r = new Random(0x132)
    val vals = Array(Int.MinValue.toLong, Int.MaxValue.toLong, 0L, -1L) ++
      Array.fill(500)(r.nextInt().toLong)
    for (c <- LongCodecs.all if c != BitPackLongCodec) {
      val block = IntCodecs.encode(c, vals, vals.length)
      assert(block(0) === IntCodecs.Marker)
      assert(IntCodecs.decodeSlice(block, 0, block.length).toSeq === vals.map(_.toInt).toSeq, c.name)
    }
  }

  test("a hand-built narrow block holding 2^40 raises Overflow") {
    for (c <- Seq(VarintLongCodec, ForLongCodec, ForGcdLongCodec, DeltaLongCodec)) {
      val block = Array(IntCodecs.Marker) ++ c.encode(Array(7L, 1L << 40, 3L))
      val e = intercept[graft.core.DecodeError](IntCodecs.decodeSlice(block, 0, block.length))
      assert(e.isInstanceOf[graft.core.DecodeError.Overflow], s"${c.name}: $e")
    }
  }

  // blocks as the writer made them before the narrow selector and the two
  // new long codecs (recorded at a341214 from a `git archive` copy); the
  // sha256 guards the hex against edits
  test("blocks written before the narrow selector still decode") {
    val int = "080e5300f0fffffffef0ffffffffc3c48001c20000"
    assert(sha256(hex(int)) ===
      "88703435afebcae190ef99456845ef2c6c1d0f8ac8dce0adfa56d5179ab551e6")
    assert(IntCodecs.decodeSlice(hex(int), 0, int.length / 2).toSeq ===
      Seq(7, -42, 0, Int.MaxValue, Int.MinValue, 123456, -1, 65536))

    val prices = "0408ff7f08f5c28f5c28f6398fc2f5285ccf0e01000000000000d8a3703d7abccf2d5c8fc2f5" +
      "286855b81e85eb51082c85eb51b81ec550e17a14aec7fb5cd7a3703d0ad74d"
    assert(sha256(hex(prices)) ===
      "f57ad4bf9c1aeb5c85f32a7ce814184326e0033ba0facce2738d5618a78a5673")
    assert(LongCodecs.decode(hex(prices)).map(DoubleBits.fromSortableLong).toSeq ===
      Seq(1234.56, 0.01, 99999.99, 17.5, 42.0, 3.33, 100000.0, 8.08))
    assert(LongCodecs.decodeDoubles(hex(prices), 0, prices.length / 2).toSeq ===
      Seq(1234.56, 0.01, 99999.99, 17.5, 42.0, 3.33, 100000.0, 8.08))

    val micros = "0408fe04eec93dd44000300000000000000060d71d140040d9cfde0500c03d366b73c440c0d1" +
      "df0200402e1f17b50040420f0000000080f420e6b5"
    assert(sha256(hex(micros)) ===
      "1c2eb4ee5ad0fecfebc7bf70c7a156ede9afac8852a4e82003fecf0b8b01a434")
    val base = 694224000L * 1000000L
    assert(LongCodecs.decode(hex(micros)).toSeq ===
      Seq(0L, 86400L, 3600L * 7 + 13, 2499L * 86400 + 86399, 12345L, 777777L, 1L, 200000000L)
        .map(s => base + s * 1000000L))
  }
}

class StringCodecsSpec extends AnyFunSuite {
  private val rnd = new Random(0xcd)
  private val langs = Array("scala", "rust", "py", "java", "c", "cpp", "go", "js")

  private def codeish(n: Int): Array[String] = Array.fill(n) {
    val kw = Array("def", "val", "import", "class", "object", "match", "case", "return", "public", "static")
    (1 to 3 + rnd.nextInt(10)).map(_ => kw(rnd.nextInt(kw.length)) + " x" + rnd.nextInt(50)).mkString("; ")
  }

  private def chunks: Seq[(String, Array[String])] = Seq(
    "lowcard" -> Array.fill(2000)(langs(rnd.nextInt(langs.length))),
    "runs" -> Array.tabulate(2000)(i => langs((i / 131) % langs.length)),
    "codeish" -> codeish(500),
    "unique" -> Array.tabulate(2000)(i => s"path/to/file_$i.scala"),
    "empty+unicode" -> Array("", "héllo wörld", "日本語テキスト", "", "a" * 1000, " ÿ mixed"),
    "single" -> Array("lonely")
  )

  test("every string codec round-trips every chunk shape") {
    for ((label, data) <- chunks;
         codec <- Seq(RawStringCodec, DictStringCodec, RleStringCodec, FsstStringCodec)) {
      val block = codec.encode(data)
      val got = StringCodecs.decode(block)
      assert(got.toSeq === data.toSeq, s"$label via ${codec.name}")
    }
  }

  test("exact-stats sizes match actual for raw/dict/rle") {
    for ((label, data) <- chunks) {
      val st = StringCodecs.stats(data, data.length)
      for (codec <- StringCodecs.exact) {
        val predicted = codec.size(st)
        if (predicted != Long.MaxValue)
          assert(predicted === codec.encode(data).length.toLong, s"$label via ${codec.name}")
      }
    }
  }

  test("selector never beaten by any exactly-priced codec") {
    for ((label, data) <- chunks) {
      val st = StringCodecs.stats(data, data.length)
      val chosen = StringCodecs.select(data, data.length, st)
      val chosenSize = chosen.encode(data).length
      for (codec <- StringCodecs.exact if codec.size(st) != Long.MaxValue)
        assert(chosenSize <= codec.encode(data).length, s"$label: ${chosen.name} beaten by ${codec.name}")
    }
  }

  test("selector picks dict for low-cardinality, rle for runs; fsst compresses code-like text") {
    def sel(data: Array[String]) =
      StringCodecs.select(data, data.length, StringCodecs.stats(data, data.length))
    assert(sel(Array.fill(2000)(langs(rnd.nextInt(langs.length)))).name === "dict")
    assert(sel(Array.tabulate(2000)(i => langs((i / 131) % langs.length))).name === "rle")
    val code = codeish(500)
    val fsstSize = FsstStringCodec.encode(code).length
    val rawSize = RawStringCodec.encode(code).length
    assert(fsstSize < rawSize, s"FSST $fsstSize !< raw $rawSize on repetitive code text")
  }

  test("FSST blocks written by the 32-row sampler still decode, and the 64 KiB sample writes smaller") {
    // a seeded 64-value short-string column and its FSST block as the
    // encoder wrote it while training on 32 strided rows (sha256 pinned
    // beside the bytes); the block layout and decode are unchanged since
    val words = Array("quick", "final", "deposits", "sleep", "furious", "ironic",
      "packages", "blithely", "careful", "requests", "accounts", "pending")
    val prnd = new Random(19)
    val column = Array.fill(64)(
      (1 to 2 + prnd.nextInt(2)).map(_ => words(prnd.nextInt(words.length))).mkString(" "))
    val pinnedHex =
      "134050086361726566756c20072069726f6e696308206163636f756e7408206361726566756c08207265717565737408" +
      "626c697468656c7908667572696f757320086f756e7473206972087061636b6167657308732072657175657308737265" +
      "7175657374046f6e69630820626c697468656c08206465706f73697408207061636b616765082070656e64696e670861" +
      "63636f756e74730861726566756c717508636b20736c6565700863726571756573740864696e672061636308656c7920" +
      "66696e6108656e64696e67697208657069726f6e69630865717565737473200865736163636f756e0866696e616c2063" +
      "61086720626c697468650869636b206163636f0869726f6e69632070086c6565702069726f086c70656e64696e67086c" +
      "72657175657374086c736c6565702063086c7920667572696f086c79667572696f75086e67626c697468650871756963" +
      "6b20667508717569636b61636308726566756c20636108726566756c70656e0872657175657374730872696f75736163" +
      "63087320626c69746865087320667572696f7508732069726f6e69630873207061636b616708732070656e64696e0873" +
      "20736c6565707208736163636f756e74087366696e616c207308747320626c6974680874732070656e64690874736163" +
      "636f756e087573736c6565702006696320717569066c792069726f066e696363617206732066696e61057320736c6504" +
      "6566756c0466696e610469726f6e046f756e7404756e747302747303697473026465026570026e69026f7302706f0273" +
      "690173016401650169016f0170017915191016111110161516170c1219170e100d170d160c1519181116181717160b0d" +
      "161816191710110b190d111618110f121619100e0f19101119171916181a140b0d0e0903060213050907090305030c05" +
      "0f03110b040f0e04060608040607060809040c050e0e030a070603070603170a1504020508040e030808040d03050800" +
      "00ff71ff754cff63ff6b4e4bff6e4a4cff6eff670d094110ff20ff66ff75ff724c4dff754949ff6c4b44ff2006101004" +
      "49434748410449100305ff203dff6cff20ff66ff75ff724c4dff75491a27ff723c0010ff2049ff6c4b444e4bff6e1407" +
      "0b3e4cff63ff203dff6c3e3712290d2fff6706100105ff20ff71ff754cff63ff6b00434748414e4bff6e4a4cff6eff67" +
      "ff203dff6c0005014e4bff6e4a4cff6eff67ff2049ff6c4b44061d4bff6e4a4cff6eff673dff6c011dff61ff63ff6bff" +
      "61ff674b3aff6c4e4bff6e4a4cff6eff670e490d49290c4f01434748410449003e4cff63034e4bff6e143f2c4908023b" +
      "443dff6c0209413e4cff63010c4fff71ff754c1225ff724c4dff75491003ff2049ff6c4b4410010249ff71ff754cff63" +
      "ff6b0f0e4929042fff67080449ff20ff71ff754cff63ff6b05ff20ff66ff75ff724c4dff754905044949ff6c4b44ff20" +
      "3dff6c4347484103024949ff6c4b4403080449ff71ff751c400f43474841030f290d494e4bff6e4a4cff6eff67ff20ff" +
      "66ff75ff724c4dff75493dff6cff20491e45ff6305ff2049ff6c4b44ff20ff66ff75ff724c4dff7549290f0c4f000806" +
      "3e4cff6300ff63ff61ff723c0008044910ff20ff66ff75ff724c4dff7549290e4943474841042fff67100c4fff203dff" +
      "6c00050d494e4bff6e4a4cff6eff67043b44100303290c4f024925ff724c4dff752d"
    val pinned = pinnedHex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val sha = java.security.MessageDigest.getInstance("SHA-256").digest(pinned)
      .map(b => f"${b & 0xff}%02x").mkString
    assert(sha === "659b7227a9cc69c4f0c7870cfd6e7b75715517d351bdc5de1c36a1ab966b4d5f")
    assert(StringCodecs.decode(pinned).toSeq === column.toSeq)
    val today = FsstStringCodec.encode(column)
    assert(today.length < pinned.length, s"today's block ${today.length} B !< pinned ${pinned.length} B")
    assert(StringCodecs.decode(today).toSeq === column.toSeq)
  }

  test("FSST exactSize matches actual encode length") {
    for ((label, data) <- chunks if data.nonEmpty) {
      val predicted = FsstStringCodec.exactSize(data, data.length)
      assert(predicted === FsstStringCodec.encode(data).length.toLong, label)
    }
  }
}

class FsstSpec extends AnyFunSuite {
  private def marker(i: Int) = f"<$i%05d>"

  /** Rows `<iiiii>` + filler, 25-35 bytes each; the filler holds no '<'. */
  private def shortRows(n: Int): Array[String] = {
    val rnd = new Random(0x5a)
    Array.tabulate(n)(i => marker(i) + "abcdefghijklmnopqrstuvwxyz0123".take(18 + rnd.nextInt(11)))
  }

  /** Row indices whose marker starts in the sample. */
  private def sampledRows(sample: Array[Byte]): Seq[Int] = {
    val s = new String(sample, java.nio.charset.StandardCharsets.ISO_8859_1)
    "<(\\d{5})>".r.findAllMatchIn(s).map(_.group(1).toInt).toSeq
  }

  test("sample: short rows fill 64 KiB from rows spread over the whole chunk") {
    val n = 4096
    val rows = shortRows(n)
    val s = Fsst.sample(Utf8Column.of(rows, n))
    assert(s.length > Fsst.SampleCap - rows.map(_.length).max && s.length <= Fsst.SampleCap,
      s"sample holds ${s.length} B")
    val taken = sampledRows(s)
    assert(taken.distinct.length === taken.length)
    assert(taken.length >= 2000, s"${taken.length} rows sampled")
    assert(taken.exists(_ < n / 4) && taken.exists(_ >= 3 * n / 4), "first and last quarter")
  }

  test("sample: long rows contribute at most 2 KiB each, 64 KiB in all") {
    // row i is the 8-byte token r<iiiiii>; repeated to 6000 bytes
    val n = 1500
    val rows = Array.tabulate(n)(i => f"r$i%06d;" * 750)
    val s = Fsst.sample(Utf8Column.of(rows, n))
    assert(s.length <= Fsst.SampleCap)
    val perRow = s.grouped(8).map(t => new String(t, "UTF-8")).toSeq.groupBy(identity)
    assert(perRow.values.map(_.length * 8).max <= Fsst.RowSampleCap)
    assert(perRow.size >= Fsst.SampleCap / Fsst.RowSampleCap)
  }

  test("sample: a chunk whose capped bytes fit in 64 KiB is sampled whole") {
    val n = 1000
    val rows = shortRows(n)
    val col = Utf8Column.of(rows, n)
    assert(col.pool.length < Fsst.SampleCap)
    assert(Fsst.sample(col).toSeq === col.pool.toSeq)
    assert(sampledRows(Fsst.sample(col)) === (0 until n))
  }

  test("train: the same input gives the same symbol table twice") {
    val rows = shortRows(4096)
    val a = Fsst.train(Utf8Column.of(rows, rows.length)).symbols
    val b = Fsst.train(Utf8Column.of(rows.clone(), rows.length)).symbols
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
  }
}

class BlockHeaderSpec extends AnyFunSuite {
  test("every block header fails as a controlled error: wrong id, rows above the cap, bad slice") {
    type Decode = (Array[Byte], Int, Int) => Any
    val longs = Array(3L, 1L, 4L, 1L, 5L)
    val strs = Utf8Column.of(Array("graft", "", "block", "block"), 4)
    val floats = new FloatsColumn(Array(1f, 2.5f, -3f), Array(0, 2), Array(2, 1))
    // (label, a valid block, the offset of its `[id][rows]` header, a decode of it)
    val cases: Seq[(String, Array[Byte], Int, Decode)] =
      LongCodecs.all.flatMap(c => Seq[(String, Array[Byte], Int, Decode)](
        (s"long ${c.name}", c.encode(longs), 0, c.decode(_, _, _)),
        (s"long ${c.name} by id", c.encode(longs), 0, LongCodecs.decodeSlice))) ++
      StringCodecs.all.flatMap(c => Seq[(String, Array[Byte], Int, Decode)](
        (s"string ${c.name}", c.encodeUtf8(strs), 0, c.decodeUtf8),
        (s"string ${c.name} by id", c.encodeUtf8(strs), 0, StringCodecs.decodeSliceUtf8))) ++
      Seq[(String, Array[Byte], Int, Decode)](
        ("bin-raw", BytesCodecs.encodeBinary(strs), 0, BytesCodecs.decodeBinary),
        ("f32-raw", BytesCodecs.encodeRaw(floats), 0, BytesCodecs.decodeFloats),
        ("f32-rd", BytesCodecs.encodeRd(floats), 0, BytesCodecs.decodeFloats),
        ("narrow", IntCodecs.encode(DeltaLongCodec, longs, longs.length), 1, IntCodecs.decodeSlice))
    assert(cases.map(c => c._2(c._3) & 0xff).distinct.sorted ===
      (1 to 8) ++ (16 to 19) ++ (32 to 34))
    val overCap = {
      val w = new graft.core.BlockWriter(16)
      w.putVarint(LongCodecs.MaxDecodeRows + 1L)
      w.result()
    }
    def controlled(label: String)(decode: => Any): Unit = {
      val e = intercept[Exception](decode)
      assert(e.isInstanceOf[IllegalArgumentException] || e.isInstanceOf[graft.core.DecodeError],
        s"$label: $e")
    }
    for ((label, block, at, decode) <- cases) {
      decode(block, 0, block.length)
      val wrongId = block.clone()
      wrongId(at) = 0xee.toByte
      controlled(s"$label: wrong id")(decode(wrongId, 0, wrongId.length))
      val tooMany = block.take(at + 1) ++ overCap ++ new Array[Byte](64)
      controlled(s"$label: rows above the cap")(decode(tooMany, 0, tooMany.length))
      controlled(s"$label: empty slice")(decode(block, 0, 0))
      controlled(s"$label: empty slice at the end")(decode(block, block.length, block.length))
      controlled(s"$label: slice past the buffer")(decode(block, 0, block.length + 1))
      controlled(s"$label: negative offset")(decode(block, -1, block.length))
    }
  }
}
