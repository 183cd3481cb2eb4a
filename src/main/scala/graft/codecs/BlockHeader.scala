package graft.codecs

import graft.core.{BlockReader, BlockWriter, PrefixVarInt}

/** The header every long, string, `bin-raw` and float block starts with:
  * `[id u8][rows varint]`. It is written, sized and parsed here, and a
  * block's slice is checked here, for every codec. A parsed row count is
  * capped at [[LongCodecs.MaxDecodeRows]]: a corrupt or hostile header
  * must never drive an unbounded allocation.
  */
object BlockHeader {

  /** Bytes of an `n`-row block's header. */
  def size(n: Int): Long = 1L + PrefixVarInt.len(n.toLong)

  /** A writer holding block `id`'s header for `n` rows, `cap` bytes in all
    * reserved.
    */
  def write(id: Int, n: Int, cap: Int): BlockWriter = {
    val w = new BlockWriter(cap)
    w.putByte(id)
    w.putVarint(n.toLong)
    w
  }

  /** The first byte of the block at buf(off until end), once the slice is
    * known to be non-empty and inside `buf`.
    */
  def idOf(buf: Array[Byte], off: Int, end: Int): Int = {
    require(off >= 0 && off < end && end <= buf.length,
      s"empty or out-of-range block slice [$off, $end) of ${buf.length} bytes")
    buf(off) & 0xff
  }

  /** A reader past the header of the block `id` at buf(off until end), and
    * its row count.
    */
  def open(buf: Array[Byte], off: Int, end: Int, id: Int): (BlockReader, Int) = {
    val got = idOf(buf, off, end)
    require(got == id, s"block codec id $got, expected $id")
    val r = new BlockReader(buf, off + 1, end)
    (r, rows(r))
  }

  /** The row count at `r`. Blocks written before the narrow selector
    * (`varint-i32`) start with it, without an id.
    */
  def rows(r: BlockReader): Int = {
    val n = r.getVarint()
    require(n >= 0 && n <= LongCodecs.MaxDecodeRows,
      s"implausible row count $n (cap ${LongCodecs.MaxDecodeRows})")
    n.toInt
  }
}
