package graft.codecs

import org.scalatest.funsuite.AnyFunSuite
import graft.core.{BlockReader, BlockWriter, DecodeError, PrefixVarInt}
import graft.engine.{ChunkRange, ColumnarEngine, ContainerFormat, ContainerIO, Lane, Manifests, SourceTable, SparkTestSession, TestDirs}
import graft.sources.ChunkSpec

/** Fuzz-grade decode robustness, porting the intent of the reference's
  * libFuzzer targets (reference: the fuzz/fuzz_targets dir, tests/fuzz.rs:4-17):
  * decoding ARBITRARY bytes through every decode surface must either
  * succeed or raise a controlled error (DecodeError / require-failure) —
  * never an out-of-bounds access, negative-size allocation, unbounded
  * allocation, or hang.
  */
class FuzzSpec extends AnyFunSuite {

  /** Runs f; fails the test if it throws anything but a controlled error. */
  private def controlled(ctx: => String)(f: => Any): Unit =
    try { f; () }
    catch {
      case _: DecodeError => ()
      case _: IllegalArgumentException => () // require-failure
      case e: Throwable => fail(s"uncontrolled ${e.getClass.getName}: ${e.getMessage} on ${ctx}", e)
    }

  private def hex(b: Array[Byte]): String = b.map(x => f"$x%02x").mkString

  private lazy val engineLanes = Lane.ofSpecs(ColumnarEngine.DefaultSchema)

  /** Container decode through the production parser: the indexed
    * chunk ranges every reader uses, with each chunk's content digest
    * verified (the engine schema's `content` column).
    */
  private def parseContainer(bytes: Array[Byte], ranges: Seq[ChunkRange]): Unit =
    ContainerFormat.chunks(memStream(bytes), bytes.length.toLong, "fuzz", ranges,
      engineLanes).foreach(ContainerFormat.verifyDigest(_, "content"))

  /** Each committed container's chunk ranges, by block file name, taken
    * from the table's own manifests — with NO block CRCs: these targets
    * exist to reach the decoders, which a recorded CRC would shield from
    * most flips.
    */
  private def chunkRanges(dir: String): Map[String, Seq[ChunkRange]] = {
    val conf = ContainerIO.localConf()
    Manifests.readCommitted(conf, dir).filter(_.rows > 0)
      .map(Manifests.loadChunkIndex(conf, dir, _))
      .map(m => s"part-${m.name}.gblk" ->
        m.chunkIndex.map(c => ChunkSpec(c.offset, c.length, c.rows, Map.empty)))
      .toMap
  }

  test("random bytes never crash decodePair / BlockReader / codec / container decode (>1M buffers)") {
    val rnd = new java.util.Random(0xf00dL)
    val longIds = Array[Byte](1, 2, 3, 4, 5, 6)
    val strIds = Array[Byte](16, 17, 18, 19)
    var i = 0
    while (i < 250000) {
      val len = 1 + rnd.nextInt(40)
      val b = new Array[Byte](len)
      rnd.nextBytes(b)
      controlled(hex(b))(PrefixVarInt.decodePair(b, 0))
      controlled(hex(b)) {
        val r = new BlockReader(b)
        while (r.hasRemaining) r.getVarint()
      }
      controlled(hex(b))(LongCodecs.decodeSlice(b, 0, b.length))
      controlled(hex(b))(StringCodecs.decodeSlice(b, 0, b.length))
      // the whole buffer as one chunk range: every buffer reaches readChunk
      controlled(hex(b))(parseContainer(b, Seq(ChunkSpec(0L, b.length.toLong, 1, Map.empty))))
      // force a valid codec id so decode gets past the id check
      b(0) = longIds(rnd.nextInt(longIds.length))
      controlled(hex(b))(LongCodecs.decodeSlice(b, 0, b.length))
      b(0) = strIds(rnd.nextInt(strIds.length))
      controlled(hex(b))(StringCodecs.decodeSlice(b, 0, b.length))
      i += 1
    }
  }

  test("bit-flipped and truncated VALID long/string blocks never crash") {
    val rnd = new java.util.Random(42L)
    val longShapes: Seq[Array[Long]] = Seq(
      Array.fill(500)(rnd.nextLong() >>> rnd.nextInt(58)),
      Array.tabulate(500)(i => 1000L + i), // delta-friendly
      Array.fill(500)(7L), // rle-friendly
      Array.tabulate(500)(i => (i % 9).toLong), // dict/bitpack-friendly
      Array.tabulate(500)(i => -250L + i)) // FoR with negatives
    // the codecs before the divisor and decimal ones: the new blocks below
    // have their own generator, so these keep their mutations
    val longBlocks = for {
      vs <- longShapes; c <- LongCodecs.all
      if c != ForGcdLongCodec && c != DecimalLongCodec
      if c != BitPackLongCodec || vs.forall(_ >= 0)
    } yield c.encode(vs)
    val words = Array("alpha", "beta", "gamma", "the quick brown fox", "", "日本語テキスト")
    val strs = Array.fill(400)(words(rnd.nextInt(words.length)) + rnd.nextInt(4))
    // an l_comment-shaped column (4 words of a 32-word vocabulary per
    // row) trains a full 255-symbol table, every code a legal mutation
    // target; its own generator keeps the other blocks' mutations as they were
    val vocab = Array("the", "final", "ironic", "deposits", "sleep", "quickly",
      "furiously", "carefully", "blithely", "express", "regular", "pending",
      "special", "bold", "even", "silent", "packages", "requests", "accounts",
      "theodolites", "foxes", "pinto", "beans", "instructions", "dependencies",
      "asymptotes", "ideas", "platelets", "excuses", "courts", "slyly", "fluffily")
    val crnd = new java.util.Random(4096L)
    val comments = Array.fill(4096)(Array.fill(4)(vocab(crnd.nextInt(vocab.length))).mkString(" "))
    assert(Fsst.train(comments, comments.length).symbols.length === Fsst.MaxSymbols)
    val strBlocks = Seq(
      RawStringCodec.encode(strs), DictStringCodec.encode(strs),
      RleStringCodec.encode(strs.sorted), FsstStringCodec.encode(strs),
      FsstStringCodec.encode(comments))
    for (block <- longBlocks ++ Nil) {
      var k = 0
      while (k < 800) {
        val m = block.clone()
        m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
        controlled(s"long block mut $k")(LongCodecs.decodeSlice(m, 0, m.length))
        controlled(s"long block trunc $k")(
          LongCodecs.decodeSlice(block, 0, 1 + rnd.nextInt(block.length)))
        k += 1
      }
    }
    for (block <- strBlocks) {
      var k = 0
      while (k < 800) {
        val m = block.clone()
        m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
        controlled(s"str block mut $k")(StringCodecs.decodeSlice(m, 0, m.length))
        controlled(s"str block trunc $k")(
          StringCodecs.decodeSlice(block, 0, 1 + rnd.nextInt(block.length)))
        k += 1
      }
    }
    // a decimal-double block with exceptions, a divisor frame-of-reference
    // block and a narrow block behind its marker, on their own generator
    val nrnd = new java.util.Random(2020L)
    val specials = Array(-0.0, Double.NaN, Double.PositiveInfinity, 1e300, math.Pi)
    val cents = Array.tabulate(500)(i => DoubleBits.toSortableLong(
      if (i % 25 == 3) specials(i / 25 % specials.length) else nrnd.nextInt(10000000) / 100.0))
    val seconds = Array.fill(500)(1_700_000_000_000_000L + nrnd.nextInt(1 << 28) * 1000000L)
    val decimal = DecimalLongCodec.encode(cents)
    assert(LongCodecs.decode(decimal).toSeq === cents.toSeq)
    val newBlocks: Seq[(String, Array[Byte], Array[Byte] => Any)] = Seq(
      ("decimal", decimal, b => LongCodecs.decodeSlice(b, 0, b.length)),
      ("for-gcd", ForGcdLongCodec.encode(seconds), b => LongCodecs.decodeSlice(b, 0, b.length)),
      ("narrow", IntCodecs.encode(Array.fill(500)(nrnd.nextInt().toLong), 500),
        b => IntCodecs.decodeSlice(b, 0, b.length)))
    for ((label, block, decode) <- newBlocks) {
      var k = 0
      while (k < 800) {
        val m = block.clone()
        m(nrnd.nextInt(m.length)) = nrnd.nextInt(256).toByte
        controlled(s"$label block mut $k")(decode(m))
        controlled(s"$label block trunc $k")(decode(block.take(1 + nrnd.nextInt(block.length))))
        k += 1
      }
    }
    // the DOUBLE columns' direct decode of a decimal block, and f32-rd
    // blocks: exceptions among embedding floats with empty rows, and one
    // left part only; each on its own generator
    val frnd = new java.util.Random(2121L)
    val edges = Array(0x7fc00001, 0xff800001, 0x80000000, 0x00000001, 0x7f7fffff)
    val dims = Array.tabulate(80)(i => if (i % 5 == 0) 0 else 24)
    val pool = Array.tabulate(dims.sum)(j => java.lang.Float.intBitsToFloat(
      if (j % 7 == 3) edges(j / 7 % edges.length)
      else java.lang.Float.floatToRawIntBits(frnd.nextFloat() * 2 - 1)))
    val floats = new FloatsColumn(pool, dims.scanLeft(0)(_ + _).init, dims)
    val (codec, rd) = BytesCodecs.encodeFloats(floats)
    assert(codec === "f32-rd")
    val flat = BytesCodecs.encodeRd(new FloatsColumn(Array.fill(300)(0.75f), Array(0, 100), Array(100, 200)))
    val directBlocks: Seq[(String, Array[Byte], Array[Byte] => Any)] = Seq(
      ("decimal-double", decimal, b => LongCodecs.decodeDoubles(b, 0, b.length)),
      ("f32-rd", rd, b => BytesCodecs.decodeFloats(b, 0, b.length)),
      ("f32-rd one-entry", flat, b => BytesCodecs.decodeFloats(b, 0, b.length)))
    for ((label, block, decode) <- directBlocks) {
      decode(block)
      var k = 0
      while (k < 800) {
        val m = block.clone()
        m(frnd.nextInt(m.length)) = frnd.nextInt(256).toByte
        controlled(s"$label block mut $k")(decode(m))
        controlled(s"$label block trunc $k")(decode(block.take(1 + frnd.nextInt(block.length))))
        k += 1
      }
    }
  }

  test("bit-flipped and truncated VALID containers never crash container decode") {
    val spark = SparkTestSession.spark
    val dir = TestDirs.createTempDirectory("graft-fuzz").toString
    ColumnarEngine.encode(
      ColumnarEngine.derive(SourceTable.synthesize(spark, 1500, 2)), dir, numParts = 2)
    val files = new java.io.File(s"$dir/blocks").listFiles().filter(_.getName.endsWith(".gblk"))
    assert(files.nonEmpty)
    val ranges = chunkRanges(dir)
    val rnd = new java.util.Random(7L)
    for (f <- files) {
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val rs = ranges(f.getName)
      parseContainer(bytes, rs) // the unmutated container must parse clean
      var k = 0
      while (k < 600) {
        val m = bytes.clone()
        m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
        controlled(s"container mut $k")(parseContainer(m, rs))
        val cut = 1 + rnd.nextInt(bytes.length)
        controlled(s"container trunc $k")(
          parseContainer(java.util.Arrays.copyOf(bytes, cut), rs))
        k += 1
      }
    }
  }

  test("random bytes never crash BytesCodecs binary/float decode (round-7 kinds)") {
    val rnd = new java.util.Random(0xbeefL)
    var i = 0
    while (i < 120000) {
      val len = 1 + rnd.nextInt(60)
      val b = new Array[Byte](len)
      rnd.nextBytes(b)
      controlled(hex(b))(BytesCodecs.decodeBinary(b, 0, b.length))
      controlled(hex(b))(BytesCodecs.decodeFloats(b, 0, b.length))
      // force the codec ids so decode gets past the id check
      b(0) = BytesCodecs.BinRawId.toByte
      controlled(hex(b))(BytesCodecs.decodeBinary(b, 0, b.length))
      b(0) = BytesCodecs.F32RawId.toByte
      controlled(hex(b))(BytesCodecs.decodeFloats(b, 0, b.length))
      // the raw string block shares the binary block's slice decoder
      b(0) = RawStringCodec.id
      controlled(hex(b))(RawStringCodec.decodeUtf8(b, 0, b.length))
      // f32-rd: the id alone, then one row of at most 63 floats, a legal
      // right width and dictionary size, so decode reaches the body
      b(0) = BytesCodecs.F32RdId.toByte
      controlled(hex(b))(BytesCodecs.decodeFloats(b, 0, b.length))
      if (len > 4) {
        b(1) = 1
        b(2) = (b(2) & 0x3f).toByte
        b(3) = (16 + (b(3) & 15)).toByte
        b(4) = (1 + (b(4) & 7)).toByte
        controlled(hex(b))(BytesCodecs.decodeFloats(b, 0, b.length))
      }
      i += 1
    }
  }

  /** In-memory FSDataInputStream so mutated container bytes can be
    * parsed through the REAL DSv2 chunk decode (ContainerInput +
    * ContainerFormat.readChunk) without a disk write per mutation.
    */
  private def memStream(bytes: Array[Byte]): org.apache.hadoop.fs.FSDataInputStream = {
    val is = new org.apache.hadoop.fs.FSInputStream {
      private var pos = 0L
      override def seek(p: Long): Unit = pos = p
      override def getPos: Long = pos
      override def seekToNewSource(target: Long): Boolean = false
      override def read(): Int =
        if (pos >= bytes.length) -1
        else { val v = bytes(pos.toInt) & 0xff; pos += 1; v }
      override def read(b: Array[Byte], off: Int, len: Int): Int =
        if (pos >= bytes.length) -1
        else {
          val n = math.min(len.toLong, bytes.length - pos).toInt
          System.arraycopy(bytes, pos.toInt, b, off, n)
          pos += n
          n
        }
    }
    new org.apache.hadoop.fs.FSDataInputStream(is)
  }

  test("bit-flipped/truncated containers of ALL kinds (nullable long/string/double/binary/floats/ts/date) never crash chunk decode") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val vrnd = new java.util.Random(13L)
    val rows = (0 until 500).map { i =>
      (i.toLong,
        if (i % 7 == 0) null else s"str-$i-${"pad" * (i % 3)}",
        if (i % 5 == 0) null else java.lang.Double.valueOf(i * 1.25 - 100.0),
        if (i % 6 == 0) null else Array.fill(3 + i % 5)(vrnd.nextInt().toByte),
        if (i % 8 == 0) null else Array.fill(4)(vrnd.nextFloat()))
    }
    val df = rows.toDF("id", "s", "d", "b", "v")
      .withColumn("i", (col("id") % 10).cast("int"))
      .withColumn("ts", expr("make_timestamp_ntz(2024, 1, 1, 0, id % 60, id % 60)"))
      .withColumn("dt", date_add(lit("2024-01-01").cast("date"),
        (col("id") % 90).cast("int")))
      // round-8 kinds: DECIMAL (8, unscaled long) and BOOLEAN (9, 0/1)
      .withColumn("m", when(pmod(col("id"), lit(9)) === 0, lit(null))
        .otherwise((col("id") * 7).cast("decimal(12,2)")))
      .withColumn("f", pmod(col("id"), lit(3)) === 0)
      // round-9 kind: FLOAT scalar (10, sortable-int narrow path)
      .withColumn("g", when(pmod(col("id"), lit(11)) === 0, lit(null))
        .otherwise((col("id") * 0.25 - 30.0).cast("float")))
    val dir = TestDirs.createTempDirectory("graft-kind-fuzz").toString
    df.write.format("graft").option("chunkRows", "128").mode("overwrite").save(dir)
    val files = new java.io.File(s"$dir/blocks").listFiles()
      .filter(_.getName.endsWith(".gblk"))
    assert(files.nonEmpty)
    val needed = Map("id" -> Lane.Longs, "ts" -> Lane.Longs,
      "m" -> Lane.Longs, // decimal decodes into the long lane
      "s" -> Lane.Bytes, "b" -> Lane.Bytes, // binary shares the byte-slice lane
      // boolean + float ride the int lane
      "i" -> Lane.Ints, "dt" -> Lane.Ints, "f" -> Lane.Ints, "g" -> Lane.Ints,
      "d" -> Lane.Doubles, "v" -> Lane.Floats)
    val ranges = chunkRanges(dir)
    def parseAll(bytes: Array[Byte], rs: Seq[ChunkRange]): Unit =
      ContainerFormat.chunks(memStream(bytes), bytes.length.toLong, "fuzz", rs, needed)
        .foreach(_ => ())
    val rnd = new java.util.Random(29L)
    for (f <- files) {
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val rs = ranges(f.getName)
      parseAll(bytes, rs) // the unmutated container must parse clean
      var k = 0
      while (k < 600) {
        val m = bytes.clone()
        m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
        controlled(s"kind-fuzz mut $k")(parseAll(m, rs))
        controlled(s"kind-fuzz trunc $k")(
          parseAll(java.util.Arrays.copyOf(bytes, 1 + rnd.nextInt(bytes.length)), rs))
        k += 1
      }
    }
  }

  test("varintIterator32 yields Overflow then CONTINUES (reference src/tests.rs:296-307)") {
    val w = new BlockWriter()
    w.putVarint(1L)
    w.putVarint(-1L) // u64::MAX — overflows u32
    w.putVarint(0x1_0000_0000L) // 2^32 — smallest overflow
    w.putVarint(7L)
    val it = new BlockReader(w.result()).varintIterator32
    assert(it.next() === Right(1L))
    assert(it.next().left.exists(_.isInstanceOf[DecodeError.Overflow]))
    assert(it.next().left.exists(_.isInstanceOf[DecodeError.Overflow]))
    assert(it.next() === Right(7L), "iteration continues past overflowing values")
    assert(!it.hasNext)
    // truncated tail: Left(Eob) and termination
    val w2 = new BlockWriter()
    w2.putVarint(300L)
    val full = w2.result()
    val it2 = new BlockReader(java.util.Arrays.copyOf(full, full.length - 1)).varintIterator32
    assert(it2.next().left.exists(_.isInstanceOf[DecodeError.UnexpectedEob]))
    assert(!it2.hasNext, "EOB drains the cursor and terminates iteration")
  }

  test("narrow u16/i16/i32 iterators: range checks + Overflow-then-CONTINUE (ref src/core.rs:77-95,198-203)") {
    def block(vs: Long*): BlockReader = {
      val w = new BlockWriter()
      vs.foreach(w.putVarint)
      new BlockReader(w.result())
    }
    // u16: 0xffff fits, 0x10000 overflows, iteration continues
    val u16 = block(0xffffL, 0x10000L, 5L).varintIterator16.toSeq
    assert(u16(0) === Right(0xffffL))
    assert(u16(1).left.exists(_.isInstanceOf[DecodeError.Overflow]))
    assert(u16(2) === Right(5L))
    // i32: zigzag-decoded range [-2^31, 2^31)
    def zz(v: Long) = graft.core.PrefixVarInt.zigzagEncode(v)
    val i32 = block(zz(Int.MinValue.toLong), zz(Int.MaxValue.toLong + 1), zz(-7L))
      .varintIteratorI32.toSeq
    assert(i32(0) === Right(Int.MinValue.toLong))
    assert(i32(1).left.exists(_.isInstanceOf[DecodeError.Overflow]))
    assert(i32(2) === Right(-7L))
    // i16
    val i16 = block(zz(Short.MinValue.toLong), zz(Short.MaxValue + 1L), zz(42L))
      .varintIteratorI16.toSeq
    assert(i16(0) === Right(Short.MinValue.toLong))
    assert(i16(1).left.exists(_.isInstanceOf[DecodeError.Overflow]))
    assert(i16(2) === Right(42L))
  }
}
