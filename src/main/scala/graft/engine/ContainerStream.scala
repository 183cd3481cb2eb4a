package graft.engine

import org.apache.hadoop.fs.FSDataInputStream

import graft.core.{DecodeError, PrefixVarInt}
import graft.codecs.LongCodecs


/** Bounded incremental reader over `[start, end)` of an open container
  * file. Access is SEQUENTIAL with lazy seeks: a column-block skip only
  * advances the logical position — the seek happens on the next actual
  * read, so pruned columns cost no IO and sequential runs stay on the
  * filesystem's fast streaming path. (The first implementation used
  * positioned reads; Hadoop's default `PositionedReadable` on
  * checksummed filesystems degrades to seek+read+seek-back per call,
  * measured ~1.7x on the full-decode path.)
  *
  * Memory contract: at most one column block (plus a small header buffer)
  * is ever resident — the whole-container `Array[Byte]` of rounds 1-3 is
  * gone, along with its 2 GiB ceiling (reference intent: incremental
  * cursor decode is the crate's entire io surface, src/io.rs:35-60).
  *
  * One cursor per open stream at a time (the readers iterate chunks
  * strictly sequentially).
  *
  * Corruption contract (fuzz-tested): every failure is a
  * [[graft.core.DecodeError]] or an `IllegalArgumentException` — never an
  * out-of-bounds access, EOF exception, or unbounded allocation.
  */
private[graft] final class ContainerInput(
    in: FSDataInputStream, start: Long, val end: Long) {
  require(start >= 0 && start <= end, s"bad container range [$start, $end)")
  private val buf = new Array[Byte](64 << 10)
  private var bufStart: Long = start
  private var bufLen = 0
  private var p: Long = start

  def position: Long = p
  def remaining: Long = end - p
  def atEnd: Boolean = p >= end

  /** Seek the underlying stream to `pos` only if it is elsewhere. */
  @inline private def seekTo(pos: Long): Unit =
    if (in.getPos != pos) in.seek(pos)

  /** Sequential read at logical position `pos`; returns bytes read or
    * raises Eob on a premature end-of-file.
    */
  private def readAt(pos: Long, dst: Array[Byte], off: Int, len: Int): Int =
    try {
      seekTo(pos)
      val got = in.read(dst, off, len)
      if (got < 0) { p = end; DecodeError.eob() }
      got
    } catch {
      // a corrupt chunk index can claim a range past the physical file:
      // the seek/read EOF becomes the controlled drain-and-raise
      case _: java.io.EOFException => p = end; DecodeError.eob()
    }

  private def refill(): Unit = {
    val want = math.min(buf.length.toLong, end - p).toInt
    if (want <= 0) DecodeError.eob()
    var got = 0
    while (got == 0) got = readAt(p, buf, 0, want)
    bufStart = p
    bufLen = got
  }

  def readByte(): Int = {
    if (p >= end) DecodeError.eob()
    val idx = p - bufStart
    if (idx >= 0 && idx < bufLen) { p += 1; buf(idx.toInt) & 0xff }
    else { refill(); readByte() }
  }

  private val scratch = new Array[Byte](PrefixVarInt.MaxLen)

  /** One prefix varint, via the shared multibyte kernel (header fields
    * only — block bodies go through the batch codec paths).
    */
  def readVarint(): Long = {
    val tag = readByte()
    if (tag <= 0x7f) tag.toLong
    else {
      val n = PrefixVarInt.leadingOnes(tag) + 1
      scratch(0) = tag.toByte
      var i = 1
      while (i < n) { scratch(i) = readByte().toByte; i += 1 }
      new graft.core.BlockReader(scratch, 0, n).getVarint()
    }
  }

  /** Read exactly n bytes (one column block / digest); bounded by the
    * range, so a corrupt length raises Eob before any allocation beyond
    * the validated cap.
    */
  def readFullyBytes(n: Int): Array[Byte] = {
    if (n < 0 || n > remaining) { p = end; DecodeError.eob() }
    val out = new Array[Byte](n)
    // drain whatever overlaps the header buffer, then stream the rest
    var copied = 0
    val idx = p - bufStart
    if (idx >= 0 && idx < bufLen) {
      copied = math.min(n, (bufLen - idx).toInt)
      System.arraycopy(buf, idx.toInt, out, 0, copied)
    }
    var off = copied
    var pos = p + copied
    while (off < n) {
      val got = readAt(pos, out, off, n - off)
      off += got
      pos += got
    }
    p += n
    out
  }

  /** Advance past n bytes without reading them (pruned column block);
    * the next read seeks, so the skip itself is free.
    */
  def skipBytes(n: Long): Unit = {
    if (n < 0 || n > remaining) { p = end; DecodeError.eob() }
    p += n
  }
}

/** The in-memory lane a stored column kind decodes into ([[Kind.lane]]). */
private[graft] sealed abstract class Lane(val label: String)

private[graft] object Lane {
  case object Longs extends Lane("long")
  case object Ints extends Lane("int")
  case object Doubles extends Lane("double")
  /** UTF-8 strings and binary share the (pool, offsets, lens) slice shape. */
  case object Bytes extends Lane("byte-slice")
  case object Floats extends Lane("float-array")

  /** Lanes of a schema's live columns (dropped positions hold no data). */
  def ofSpecs(specs: Seq[ColumnSpec]): Map[String, Lane] =
    specs.filterNot(_.dropped).map(s => s.name -> s.lane).toMap
}

/** One decoded column of a chunk: its lane's values and, when the chunk
  * carried nulls for it, its validity bitmap (bit j set = row j is NULL;
  * null rows hold placeholder values). The typed accessors are safe for
  * the column's own lane, which [[ContainerFormat.readChunk]] checks
  * against the lane the caller asked for.
  */
private[graft] final class DecodedColumn(val lane: Lane, values: AnyRef,
                                         val nulls: Array[Byte]) {
  val rows: Int = values match {
    case a: Array[Long] => a.length
    case a: Array[Int] => a.length
    case a: Array[Double] => a.length
    case u: graft.codecs.Utf8Column => u.n
    case f: graft.codecs.FloatsColumn => f.n
  }
  def longs: Array[Long] = values.asInstanceOf[Array[Long]]
  def ints: Array[Int] = values.asInstanceOf[Array[Int]]
  def doubles: Array[Double] = values.asInstanceOf[Array[Double]]
  def bytes: graft.codecs.Utf8Column = values.asInstanceOf[graft.codecs.Utf8Column]
  def floats: graft.codecs.FloatsColumn = values.asInstanceOf[graft.codecs.FloatsColumn]
  @inline def validAt(j: Int): Boolean =
    nulls == null || (nulls(j >> 3) & (1 << (j & 7))) == 0
}

/** One decoded chunk: only the `needed` columns are materialized, each
  * in its lane. Strings stay UTF-8 slices ([[graft.codecs.Utf8Column]]) —
  * Java Strings are materialized only by consumers that need them.
  */
private[graft] final case class DecodedChunk(
    rows: Int,
    cols: java.util.HashMap[String, DecodedColumn],
    storedDigest: Array[Byte]) {

  def col(c: String): DecodedColumn = cols.get(c)

  /** Is row j of column c non-null? */
  def validAt(c: String, j: Int): Boolean = {
    val d = cols.get(c)
    d == null || d.validAt(j)
  }
}

/** A chunk's place in its container: byte range, row count and the block
  * CRCs the manifest recorded.
  */
private[graft] trait ChunkRange {
  def offset: Long
  def length: Long
  def rows: Int
  def crcs: Map[String, Long]
}

/** Streaming parse of the container format, shared by every read of a
  * container: the DSv2 reader, the engine decode, and maintenance
  * rewrites. A container is a prelude (magic + part id) followed by
  * chunks; reads address chunks only through the byte ranges of the
  * manifest's chunk index, so the prelude is written but never parsed.
  */
private[graft] object ContainerFormat {

  /** Hard cap on any single buffered allocation: the reader REFUSES to
    * buffer more than one encoder-shaped block. The encoder flushes
    * chunks at 32 MiB of string CHARS and caps any single value at 10 Mi
    * chars ([[ColumnarEngine.MaxValueChars]]), so a legal
    * block is < 3×(32 Mi + 10 Mi) bytes even at full 3-byte UTF-8
    * expansion; a container claiming more is corrupt or foreign — fail
    * with a DecodeError-shaped require, don't OOM.
    */
  final val MaxBlockBytes: Long = 256L << 20

  /** Open a container file: its input stream and length. */
  def open(file: String, conf: org.apache.hadoop.conf.Configuration)
      : (FSDataInputStream, Long) = {
    val p = new org.apache.hadoop.fs.Path(file)
    val fs = ContainerIO.fs(file, conf)
    val len = fs.getFileStatus(p).getLen
    (fs.open(p), len)
  }

  /** The decoded chunks of one open container at the indexed `ranges`:
    * each range must lie inside the file, parse to exactly its end, and
    * hold its indexed row count.
    */
  def chunks(in: FSDataInputStream, fileLen: Long, file: String,
             ranges: Seq[ChunkRange],
             needed: Map[String, Lane]): Iterator[DecodedChunk] =
    ranges.iterator.map { cs =>
      require(cs.offset >= 0 && cs.length >= 0 && cs.offset + cs.length <= fileLen,
        s"chunk range [${cs.offset}, +${cs.length}) overruns $file ($fileLen bytes)")
      val ci = new ContainerInput(in, cs.offset, cs.offset + cs.length)
      val chunk = readChunk(ci, needed, cs.crcs)
      require(ci.atEnd, s"chunk at ${cs.offset} shorter than its indexed length")
      require(chunk.rows == cs.rows, s"chunk at ${cs.offset} row count mismatch")
      chunk
    }

  /** Parse one chunk starting at the cursor. Non-needed column blocks are
    * position advances (no IO); needed blocks are read, CRC-verified when
    * the manifest recorded a CRC, and decoded into their kind's lane
    * ([[Kind.decode]]). A
    * needed column that is missing, short, or of another lane than asked
    * for fails the read.
    */
  def readChunk(ci: ContainerInput, needed: Map[String, Lane],
                crcs: Map[String, Long]): DecodedChunk = {
    val n = {
      val l = ci.readVarint()
      require(l >= 1 && l <= LongCodecs.MaxDecodeRows, s"implausible chunk rows $l")
      l.toInt
    }
    val nCols = {
      val l = ci.readVarint()
      require(l >= 0 && l <= 4096, s"implausible column count $l")
      l.toInt
    }
    val cols = new java.util.HashMap[String, DecodedColumn]()
    var c = 0
    while (c < nCols) {
      val nameLen = ci.readVarint()
      require(nameLen >= 0 && nameLen <= 1024, s"implausible name length $nameLen")
      val name = new String(ci.readFullyBytes(nameLen.toInt),
        java.nio.charset.StandardCharsets.UTF_8)
      val rawKind = ci.readByte()
      // bit 7 = this chunk's column carries a validity-bitmap prefix
      // (nullable columns write it only on chunks that contain nulls)
      val kind = Kinds(rawKind & 0x7f)
      val hasNulls = (rawKind & 0x80) != 0
      val blockLen = {
        val l = ci.readVarint()
        require(l >= 0 && l <= ci.remaining, s"block length $l overruns container")
        require(l <= MaxBlockBytes,
          s"block length $l exceeds the $MaxBlockBytes streaming buffer cap")
        l.toInt
      }
      if (needed.contains(name)) {
        val block = ci.readFullyBytes(blockLen)
        crcs.get(name).foreach { want =>
          require(Manifests.crc32c(block) == want,
            s"block CRC mismatch for column $name: container is corrupt")
        }
        // validity prefix: ceil(n/8) bytes ahead of the plain value
        // block (null rows hold placeholder values the codecs compress
        // away); the CRC above covers bitmap + values together
        val bm = if (hasNulls) (n + 7) >> 3 else 0
        require(blockLen >= bm, s"column $name block shorter than its validity bitmap")
        val nulls = if (hasNulls) java.util.Arrays.copyOfRange(block, 0, bm) else null
        cols.put(name, new DecodedColumn(kind.lane, kind.decode(block, bm), nulls))
      } else ci.skipBytes(blockLen.toLong)
      c += 1
    }
    val digest = ci.readFullyBytes(32)
    needed.foreach { case (col, lane) =>
      val d = cols.get(col)
      require(d != null && d.lane == lane && d.rows == n,
        s"container missing/short ${lane.label} column $col")
    }
    DecodedChunk(n, cols, digest)
  }

  /** Recompute the chunk's per-row digest-column sha256 digest and
    * enforce it against the stored one (the engine decode contract,
    * available to every DSv2 read that selects the digest column —
    * `content` for the engine schema, the manifest's `digestCol` for
    * generic tables).
    */
  def verifyContentDigest(chunk: DecodedChunk, digestCol: String = "content"): Unit = {
    val col = chunk.col(digestCol)
    require(col != null && col.lane == Lane.Bytes,
      s"verifyContentDigest needs the $digestCol column")
    val content = col.bytes
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    val chunkSha = java.security.MessageDigest.getInstance("SHA-256")
    var i = 0
    while (i < chunk.rows) {
      sha.reset()
      // digest straight off the UTF-8 slices — the encode side hashed
      // exactly these bytes, so no String round trip is needed
      sha.update(content.pool, content.offsets(i), content.lens(i))
      chunkSha.update(sha.digest())
      i += 1
    }
    require(java.util.Arrays.equals(chunkSha.digest(), chunk.storedDigest),
      "chunk content digest mismatch: decoded rows differ from encoded rows")
  }
}
