package graft.engine

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.codecs._
import graft.core.BlockWriter
import graft.sources.GraftDataSource
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import java.nio.charset.StandardCharsets.UTF_8

/** Input row after the derive stage: the five source columns plus the
  * derived integer columns the engine encodes (north_star: lengths,
  * hashes, commit ordinals, dictionary codes for repo/lang/path).
  */
final case class DerivedRow(
    repo: String, path: String, commit: String, lang: String, content: String,
    len_content: Long, hash64: Long, commit_ord: Long,
    repo_code: Long, lang_code: Long, path_code: Long)

/** One column of a graft table: its name, its kind (Spark type, stored
  * form and value conversions are the [[Kinds]] entry), nullability and,
  * for DECIMAL, precision and scale. The container format stores (name,
  * kind, block) per column per chunk, so any schema of these kinds
  * round-trips; [[DerivedRow]] is simply the engine's own schema
  * ([[ColumnarEngine.DefaultSchema]]).
  *
  * `nullable` columns store a per-chunk validity prefix on chunks that
  * actually contain nulls (kind byte flagged with 0x80); all-present
  * chunks of a nullable column stay in the plain layout. In the
  * manifest's `schema` array the flag is packed into the kind int as bit
  * 7 ([[ColumnSpec.packed]]), so each entry stays one `(name, kind)`
  * pair; decimal precision and scale pack into bits 8-15 and 16-23 of
  * the same int (zero for every other kind).
  */
final case class ColumnSpec(name: String, kind: Int, nullable: Boolean = false,
                            precision: Int = 0, scale: Int = 0,
                            dropped: Boolean = false) {
  Kinds(kind).check(this)
  require(name.nonEmpty && name.getBytes(java.nio.charset.StandardCharsets.UTF_8).length <= 1024,
    s"column name out of range: '$name'")
  /** Manifest-schema encoding: kind | 0x80 when nullable; decimal
    * precision/scale in bits 8-15/16-23; bit 24 marks a position-DROPPED
    * column (round 9: the position stays in the chain — field identity
    * is positional — but no data is stored for it and readers project it
    * out of the current schema).
    */
  def packed: Int = kind | (if (nullable) ColumnSpec.NullableFlag else 0) |
    (precision << 8) | (scale << 16) |
    (if (dropped) ColumnSpec.DroppedFlag else 0)
  def dataType: org.apache.spark.sql.types.DataType = Kinds(kind).dataType(this)
  private[graft] def lane: Lane = Kinds(kind).lane
}

object ColumnSpec {
  final val NullableFlag = 0x80
  final val DroppedFlag = 0x1000000
  def fromPacked(name: String, packed: Int): ColumnSpec =
    ColumnSpec(name, packed & 0x7f, (packed & NullableFlag) != 0,
      (packed >> 8) & 0xff, (packed >> 16) & 0xff,
      (packed & DroppedFlag) != 0)
}

/** The per-column lightweight-compression engine (SURVEY.md §3.4).
  *
  * Encode job: derive integer columns with Catalyst expressions →
  * salted hash repartition over (repo, salt) so giant repos can't skew a
  * partition → `sortWithinPartitions` to maximize run lengths → one
  * `format("graft")` overwrite: each task's chunked stats+select+encode
  * stages one block container, and the job commit publishes their
  * manifests (commit markers) and one OCC index version.
  *
  * Decode job: the `format("graft")` scan → per-chunk codec decode
  * straight into column vectors → typed rows, with each chunk's
  * sha256-of-row-sha256s digest recomputed and checked against the
  * stored digest (per-row content integrity).
  */
object ColumnarEngine {

  final val Magic = "GBLK1".getBytes(UTF_8)
  final val ChunkRows = 65536
  final val ChunkContentBytes = 32L << 20 // flush chunk at 32 MiB of string chars

  /** Cap on one string value (chars). Together with the chunk flush
    * threshold this bounds every encoded block under the streaming
    * reader's block cap ([[graft.engine.ContainerFormat.MaxBlockBytes]]).
    * Source files beyond this belong in chunked/out-of-row storage, not a
    * single table cell.
    */
  final val MaxValueChars: Int = 10 << 20

  val longColumns: Seq[String] =
    Seq("len_content", "hash64", "commit_ord", "repo_code", "lang_code", "path_code")
  val stringColumns: Seq[String] = Seq("repo", "path", "commit", "lang", "content")

  /** The engine's own table schema ([[DerivedRow]]), strings first —
    * matching the DSv2 `GraftDataSource.schema` field order.
    */
  val DefaultSchema: Seq[ColumnSpec] =
    stringColumns.map(ColumnSpec(_, 1)) ++ longColumns.map(ColumnSpec(_, 0))

  /** The column whose per-row sha256 feeds the chunk digest: `content`
    * when the schema has it (the north-rule invariant), else the first
    * string column, else none (block CRCs still cover every read).
    */
  def digestColumnOf(schema: Seq[ColumnSpec]): String = {
    val strings = schema.filter(s => !s.dropped && Kinds(s.kind).stored == Stored.Utf8)
    strings.find(_.name == "content").orElse(strings.headOption).map(_.name)
      .getOrElse("")
  }

  // ---------------------------------------------------------------- derive

  /** Catalyst-planned derivation of the integer columns. The lang
    * dictionary is a bounded enum (broadcast hint); repo, path, and
    * (repo, commit) dictionaries are UNBOUNDED at 10^12-file scale, so
    * they carry no hint — AQE's runtime size gate broadcasts them when the
    * measured build side is small and falls back to a shuffle join when it
    * isn't (round 1 force-broadcast repo/commit, a driver OOM at scale).
    *
    * Null discipline: any null source column is an error raised inline
    * (`coalesce(c, raise_error(...))` — evaluated only on null rows, zero
    * extra scan). Inner dictionary joins would otherwise silently DROP
    * null-keyed rows and break the engine's row-count invariant, and null
    * content would NPE the per-row sha256 digest.
    *
    * Skew discipline: the per-repo commit-ordinal window runs over the
    * SKINNY distinct (repo, commit) pairs, never over rows carrying
    * `content` — a window partitioned by repo on full rows would buffer
    * the zipf-head repo's multi-KB rows in one task and serialize the
    * whole job (measured: 4x the entire derive cost at SF).
    */
  def derive(src: Dataset[SourceFile]): Dataset[DerivedRow] = {
    val spark = src.sparkSession
    import spark.implicits._
    def required(name: String) = coalesce(col(name),
      raise_error(lit(s"derive: null $name — source columns must be non-null"))).as(name)
    val df = src.toDF().select(
      required("repo"), required("path"), required("commit"),
      required("lang"), required("content"))
    // ONE fused dictionary pass for all three columns (round 10): the
    // per-column builds scanned the source and paid their exchanges three
    // times; buildMulti unions the columns as (kind, value) rows, and the
    // three filtered views below share its exchanges via plan-level
    // reuse — same codes, one scan (guide §1.2: fewer passes).
    val dict = GlobalDictionary.buildMulti(df, Seq("repo", "lang", "path"))
    val repoDict = dict.filter($"kind" === "repo")
      .select($"value".as("repo"), $"code".as("repo_code"))
    val langDict = dict.filter($"kind" === "lang")
      .select($"value".as("lang"), $"code".as("lang_code"))
    val pathDict = dict.filter($"kind" === "path")
      .select($"value".as("path"), $"code".as("path_code"))
    // distinct (repo, commit) is bounded by repos x commits-per-repo —
    // tiny next to the row count; the window sees only skinny pairs
    val commitOrds = df.select($"repo", $"commit").distinct()
      .withColumn("commit_ord", dense_rank()
        .over(Window.partitionBy($"repo").orderBy($"commit")).cast("long"))
    df.withColumn("len_content", length($"content").cast("long"))
      .withColumn("hash64", xxhash64($"content"))
      .join(commitOrds, Seq("repo", "commit"))
      .join(repoDict, "repo")
      .join(broadcast(langDict), "lang")
      .join(pathDict, "path")
      .select($"repo", $"path", $"commit", $"lang", $"content",
        $"len_content", $"hash64", $"commit_ord",
        $"repo_code", $"lang_code", $"path_code")
      .as[DerivedRow]
  }

  // ---------------------------------------------------------------- encode

  /** Salt buckets of [[partitionForEncoding]]. */
  private final val SaltBuckets = 16

  /** Salted repartition + in-partition sort (north_rule skew handling):
    * the salt splits any giant repo across [[SaltBuckets]] partitions, so
    * no single partition carries more than ~1/16 of a hot repo.
    *
    * Deliberately HASH partitioning (Murmur3, fixed seed — deterministic
    * across runs and cluster sizes), not `repartitionByRange`: Spark's
    * range partitioner derives its reservoir-sampling seed from the RDD
    * id, so range boundaries drift between job runs. Hash partitioning
    * plus the total (repo, lang, path) order below makes the container
    * bytes a function of the input alone, which `graft.Bench`'s reuse of
    * one rep's output relies on. The `sortWithinPartitions` restores what
    * the codecs actually need from range partitioning: long
    * (repo, lang, path) runs inside each partition for RLE/dict/delta.
    */
  def partitionForEncoding(ds: Dataset[DerivedRow], numParts: Int): Dataset[DerivedRow] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.withColumn("_salt", pmod(xxhash64($"path"), lit(SaltBuckets.toLong)))
      .repartition(numParts, $"repo", $"_salt")
      .sortWithinPartitions($"repo", $"lang", $"path")
      .drop("_salt")
      .as[DerivedRow]
  }

  /** Encode `ds` as the `graft` table at `outDir`, REPLACING whatever the
    * directory held: one DSv2 overwrite (`format("graft")`), so the
    * containers land through the same staged write and single OCC index
    * commit as every other table write. A failed encode leaves `outDir`
    * as it was; a re-encode replaces it. Returns the committed manifests,
    * by part.
    *
    * The rows are re-typed to [[DefaultSchema]]'s Spark schema on the
    * way in: `derive`'s string columns are Spark-nullable, and the
    * table's schema (hence every manifest's) must be [[DefaultSchema]],
    * whose columns are not. A null value fails the encode, never becomes
    * a stored value.
    */
  def encode(ds: Dataset[DerivedRow], outDir: String, numParts: Int): Array[TableManifest] = {
    partitionForEncoding(ds, numParts).toDF()
      .map(identity[Row])(Encoders.row(GraftDataSource.schema))
      .write.format("graft").mode("overwrite").save(outDir)
    Manifests.readCommitted(ds.sparkSession.sparkContext.hadoopConfiguration, outDir)
      .toArray.sortBy(_.part)
  }

  /** Attempt id for tmp-file uniqueness; 0 outside a task (unit tests). */
  private def attemptId: Long =
    Option(TaskContext.get()).map(_.taskAttemptId()).getOrElse(0L)

  /** Push-style single-partition encoder: one typed put per live column
    * (`putLong`/`putUtf8`/`putBinary`/`putFloats`/`putNull`, addressed
    * by column index), then `endRow()`; chunks flush at fixed row and
    * content thresholds, and `finish` writes the container and returns
    * its unpublished manifest. Shared by the `graft` DataSource V2 writer
    * (hence the engine encode) and the maintenance rewrites, so none
    * buffers more than one chunk beyond the flush thresholds.
    *
    * `schema` may hold any [[ColumnSpec]] kinds
    * ([[ColumnarEngine.DefaultSchema]] = the engine's [[DerivedRow]]
    * shape): buffering is columnar, one buffer per live column whose
    * stored form ([[Kind.stored]]) is fixed here, once. Variable-length
    * values buffer in the shapes the decode returns: STRING and BINARY
    * bytes in one byte pool with per-row offsets and lengths (flushed as
    * a [[Utf8Column]]), ARRAY<FLOAT> in one float pool likewise (a
    * [[FloatsColumn]]), so the codecs read the buffers in place and a
    * rewrite copies each decoded slice straight into them. The chunk digest
    * covers [[ColumnarEngine.digestColumnOf]] (all-zero when the schema has no
    * string column), and the manifest records the schema + digest column
    * so readers infer both.
    */
  private[graft] final class PartitionEncoder(
      val part: Int, outDir: String,
      conf: org.apache.hadoop.conf.Configuration,
      partName: String = null,
      chunkRowsCap: Int = ChunkRows,
      schema: Seq[ColumnSpec] = DefaultSchema) {
    import PartitionEncoder._
    require(chunkRowsCap >= 1, s"chunkRowsCap must be >= 1: $chunkRowsCap")
    require(schema.nonEmpty && schema.map(_.name).distinct.size == schema.size,
      s"schema must be non-empty with distinct names: $schema")
    /** Block-file suffix; epoch-qualified for DSv2 writes (append-safe). */
    val name: String = if (partName == null) part.toString else partName
    /** The put index space: live columns in schema order. Position-DROPPED
      * columns (round 9) stay in the manifest's schema chain but hold no
      * data, so they take no puts.
      */
    val columns: IndexedSeq[ColumnSpec] = schema.filterNot(_.dropped).toIndexedSeq
    private val bufs: Array[ColumnBuffer] =
      columns.map(ColumnBuffer(_, chunkRowsCap)).toArray
    private val kinds: Array[Kind] = columns.map(s => Kinds(s.kind)).toArray
    /** Block order inside a chunk: numeric columns, then strings,
      * binaries and float arrays, each group in schema order (stable sort).
      */
    private val blockOrder: Array[Int] = bufs.indices.sortBy(bufs(_).group).toArray
    private val strBufs: Array[BytesBuffer] =
      bufs.collect { case b: BytesBuffer if b.utf8 => b }
    private val bmBytes = (chunkRowsCap + 7) >> 3
    private val digestCol = digestColumnOf(schema)
    private val digestIdx = columns.indexWhere(_.name == digestCol)
    private val w = new BlockWriter(1 << 20)
    w.putBytes(Magic)
    w.putVarint(part.toLong)
    private val sha = java.security.MessageDigest.getInstance("SHA-256")
    private val rowDigest = new Array[Byte](32) // one row's sha256, reused
    private val partDigest = java.security.MessageDigest.getInstance("SHA-256")
    // name -> (raw, enc, min, max, hasRange)
    private val colMetrics = new java.util.LinkedHashMap[String, Array[Long]]()
    private val codecByCol = new java.util.LinkedHashMap[String, String]()
    private val chunkIndex = Seq.newBuilder[ChunkStats]
    private var rows = 0L
    private var chunks = 0
    private var rawTotal = 0L

    // rows buffered in the current chunk, the value bytes they hold
    // (strings as UTF-8 bytes; see [[contentSize]]), and the puts made
    // into the row being built
    private var bufN = 0
    private var bufBytes = 0L
    private var rowPuts = 0
    // FSST training amortized across this partition's chunks, per column
    private val fsstStates = new java.util.HashMap[String, StringCodecs.FsstState]()

    private def flushChunk(): Unit = {
      if (bufN == 0) return
      val n = bufN
      chunks += 1
      rows += n
      val chunkStart = w.size.toLong
      var chunkLongRanges = Map.empty[String, (Long, Long)]
      var chunkStrDicts = Map.empty[String, Seq[String]]
      var chunkStrRanges = Map.empty[String, (String, String)]
      var chunkCrcs = Map.empty[String, Long]
      // column -> null rows in this chunk, recorded for every NULLABLE
      // column including explicit zeros (proof-based IS NULL / IS NOT
      // NULL chunk pruning — see [[graft.engine.ChunkStats]])
      var chunkNullCounts = Map.empty[String, Int]
      w.putVarint(n.toLong)
      w.putVarint(bufs.length.toLong)
      // per-row digest-column sha256 -> chunk digest (all-zero when the
      // schema has no string column: block CRCs still cover every block)
      val digest =
        if (digestIdx < 0) new Array[Byte](32)
        else {
          val chunkSha = java.security.MessageDigest.getInstance("SHA-256")
          val s = bufs(digestIdx).asInstanceOf[BytesBuffer]
          var i = 0
          while (i < n) {
            sha.update(s.pool, s.offsets(i), s.lens(i))
            sha.digest(rowDigest, 0, 32) // also resets sha for the next row
            chunkSha.update(rowDigest)
            i += 1
          }
          chunkSha.digest()
        }

      def writeCol(b: ColumnBuffer, block0: Array[Byte],
                   codecName: String, raw: Long,
                   min: Long = 0L, max: Long = 0L, hasRange: Boolean = false,
                   nullBm: Array[Byte], nullCount: Int): Unit = {
        val name = b.spec.name
        val kind = b.spec.kind
        // nullCount >= 0 = the column is declared nullable; -1 = not
        if (nullCount >= 0)
          chunkNullCounts = chunkNullCounts.updated(name, nullCount)
        // chunks that carry nulls flag the kind byte (0x80) and prepend
        // the ceil(n/8)-byte validity bitmap to the value block; the
        // block CRC covers bitmap + values together
        val block =
          if (nullBm == null) block0
          else {
            val bmLen = (n + 7) >> 3
            val out = new Array[Byte](bmLen + block0.length)
            System.arraycopy(nullBm, 0, out, 0, bmLen)
            System.arraycopy(block0, 0, out, bmLen, block0.length)
            out
          }
        w.putVarint(b.nameBytes.length.toLong)
        w.putBytes(b.nameBytes)
        w.putByte(if (nullBm == null) kind else kind | ColumnSpec.NullableFlag)
        w.putVarint(block.length.toLong)
        w.putBytes(block)
        chunkCrcs = chunkCrcs.updated(name, Manifests.crc32c(block))
        if (hasRange) chunkLongRanges = chunkLongRanges.updated(name, (min, max))
        rawTotal += raw
        val m = colMetrics.computeIfAbsent(name,
          _ => Array(0L, 0L, Long.MaxValue, Long.MinValue, 0L))
        m(0) += raw
        m(1) += block.length
        if (hasRange) { // per-partition zone map: min/max across chunks
          if (min < m(2)) m(2) = min
          if (max > m(3)) m(3) = max
          m(4) = 1L
        }
        codecByCol.merge(name, codecName, (x, y) => if (x == y) x else s"$x+$y")
      }

      var k = 0
      while (k < blockOrder.length) {
        val b = bufs(blockOrder(k))
        val nm = b.spec.name
        val nc = b.nullCount
        val bm = if (nc > 0) b.nulls else null
        val nullCount = if (b.spec.nullable) nc else -1
        b match {
          case l: LongBuffer =>
            val vals = l.vals
            if (nc > 0) {
              // rewrite null slots with the chunk's first non-null value:
              // compression-friendly (RLE/FoR see a repeated real value)
              // AND it keeps codec stats/zone ranges exactly the non-null
              // range — placeholder values can never widen min/max past
              // real data, so zone-map pruning and manifest-answered
              // MIN/MAX stay exact
              var fill = 0L
              var f = 0
              var found = false
              while (!found && f < n) {
                if ((bm(f >> 3) & (1 << (f & 7))) == 0) { fill = vals(f); found = true }
                f += 1
              }
              var r = 0
              while (r < n) {
                if ((bm(r >> 3) & (1 << (r & 7))) != 0) vals(r) = fill
                r += 1
              }
            }
            // an all-null chunk has no real values: record no range at all
            val hasRange = nc < n
            // int64 columns (long / timestamp micros / double sortable
            // bits / decimal unscaled / boolean 0-1) and narrow i32 ones
            // (int / date days / float sortable bits) alike: the
            // stats-selected long codec (booleans bit-pack to ~1 bit); a
            // narrow block carries the marker byte of the overflow-checked
            // narrow decode ([[graft.codecs.IntCodecs]])
            val st = LongCodecs.stats(vals, n)
            val codec = LongCodecs.select(st)
            val block =
              if (l.narrow) IntCodecs.encode(codec, vals, n) else codec.encode(vals, n)
            writeCol(b, block, codec.name, (if (l.narrow) 4L else 8L) * n,
              st.min, st.max, hasRange, bm, nullCount)
          case s: BytesBuffer if s.utf8 =>
            val strs = s.column(n)
            val st = StringCodecs.stats(strs)
            val (codec, block) = StringCodecs.encodeBest(strs, st,
              fsstStates.computeIfAbsent(nm, _ => new StringCodecs.FsstState))
            // null rows hold the "" placeholder in the block (the digest
            // and string zone stats include it — "" can only widen a
            // dict/range, never exclude a real value, so pruning stays
            // sound)
            writeCol(b, block, codec.name, st.totalBytes,
              nullBm = bm, nullCount = nullCount)
            val (dict, range) = strZoneStats(strs)
            dict.foreach(d => chunkStrDicts = chunkStrDicts.updated(nm, d))
            range.foreach(r => chunkStrRanges = chunkStrRanges.updated(nm, r))
          case bb: BytesBuffer =>
            // raw length-prefixed payloads — no zone stats (blob
            // equality/range pruning has no sound proof shape here)
            writeCol(b, BytesCodecs.encodeBinary(bb.column(n)), "bin-raw",
              bb.used, nullBm = bm, nullCount = nullCount)
          case f: FloatBuffer =>
            // the smaller of the raw floats and the ALP-RD split
            val (codec, block) = BytesCodecs.encodeFloats(f.column(n))
            writeCol(b, block, codec, 4L * f.used, nullBm = bm, nullCount = nullCount)
        }
        b.clear()
        k += 1
      }
      w.putBytes(digest)
      partDigest.update(digest)
      chunkIndex += ChunkStats(chunkStart, w.size.toLong - chunkStart, n,
        chunkLongRanges, chunkStrDicts, chunkStrRanges, chunkCrcs,
        chunkNullCounts)
      bufN = 0
      bufBytes = 0L
    }

    /** String zone stats for one chunk: a complete distinct-value set when
      * the column is enum-shaped (<= StrDictCap values, each <=
      * StrValueCap chars), and a (min, max) range only when every value is
      * pure ASCII and short — proofs, never guesses (see [[Manifests]]).
      * Length caps short-circuit first, so wide columns (content) cost
      * O(1) per value here.
      *
      * The value set is gathered first, skipping a value equal to its
      * predecessor. While it is complete, the range is judged on its
      * values alone; only the rows past its overflow are scanned for the
      * range. Values compare as bytes (for ASCII that is String order);
      * only recorded values become Strings, and the set is sorted in
      * String order.
      */
    private def strZoneStats(col: Utf8Column)
        : (Option[Seq[String]], Option[(String, String)]) = {
      val n = col.n
      val seen = new Utf8Dict(col, Manifests.StrDictCap)
      var dictOk = true
      var i = 0
      while (i < n && dictOk) {
        if (tooLong(col, i)) return (None, None)
        if ((i == 0 || !col.same(i, i - 1)) && seen.add(i) < 0) dictOk = false
        else i += 1
      }
      var min = -1
      var max = -1
      def inRange(r: Int): Boolean = ascii(col, r) && {
        if (min < 0 || compare(col, r, min) < 0) min = r
        if (max < 0 || compare(col, r, max) > 0) max = r
        true
      }
      var rangeOk = (0 until seen.size).forall(c => inRange(seen.rowOf(c)))
      // rows past the value set's overflow: the range alone
      while (i < n && rangeOk) {
        if (tooLong(col, i)) return (None, None)
        if (!col.same(i, i - 1)) rangeOk = inRange(i)
        i += 1
      }
      (if (dictOk)
         Some((0 until seen.size).map(c => col.string(seen.rowOf(c))).distinct.sorted)
       else None,
       if (rangeOk && min >= 0) Some((col.string(min), col.string(max))) else None)
    }

    private def tooLong(col: Utf8Column, i: Int): Boolean =
      col.lens(i) > Manifests.StrValueCap &&
        Utf8Column.utf16Length(col.pool, col.offsets(i), col.lens(i)) > Manifests.StrValueCap

    private def ascii(col: Utf8Column, i: Int): Boolean = {
      var j = col.offsets(i)
      val end = j + col.lens(i)
      while (j < end && col.pool(j) >= 0) j += 1 // a byte >= 0x80 is negative
      j == end
    }

    private def compare(col: Utf8Column, i: Int, j: Int): Int =
      java.util.Arrays.compareUnsigned(col.pool, col.offsets(i), col.offsets(i) + col.lens(i),
        col.pool, col.offsets(j), col.offsets(j) + col.lens(j))

    private def wrongLane(b: ColumnBuffer, lane: String): Nothing =
      throw new IllegalArgumentException(
        s"column '${b.spec.name}' (kind ${b.spec.kind}) takes no $lane put")

    /** An integer-stored value: the column's storage form (long, micros,
      * sortable double/float bits, unscaled decimal, 0/1 boolean).
      */
    def putLong(c: Int, v: Long): Unit = bufs(c) match {
      case b: LongBuffer =>
        require(!b.narrow || v == v.toInt.toLong,
          s"value $v out of i32 range for narrow column '${b.spec.name}' " +
            s"(partition $part)")
        b.put(bufN, v)
        rowPuts += 1
      case b => wrongLane(b, "long")
    }

    /** A Spark string value, copied byte for byte: invalid UTF-8 is
      * stored as it is, and reads return the same bytes. `null` is
      * [[putNull]].
      */
    def putUtf8(c: Int, v: UTF8String): Unit =
      if (v == null) putNull(c)
      else putBytes(c, v.getBaseObject, v.getBaseOffset, v.numBytes, utf8 = true)

    /** A binary value; `null` is [[putNull]]. */
    def putBinary(c: Int, v: Array[Byte]): Unit =
      if (v == null) putNull(c)
      else putBytes(c, v, Platform.BYTE_ARRAY_OFFSET, v.length, utf8 = false)

    /** The string (`utf8`) or binary value whose `len` bytes start at
      * address `off` of `base` (a byte array with
      * [[Platform.BYTE_ARRAY_OFFSET]], or an off-heap base).
      */
    private def putBytes(c: Int, base: AnyRef, off: Long, len: Int,
                         utf8: Boolean): Unit = bufs(c) match {
      case b: BytesBuffer if b.utf8 == utf8 =>
        require(utf8 || len <= BytesCodecs.MaxBinaryBytes,
          s"binary value exceeds MaxBinaryBytes in column '${b.spec.name}'")
        val at = b.append(bufN, len)
        Platform.copyMemory(base, off, b.pool, Platform.BYTE_ARRAY_OFFSET + at, len)
        require(!utf8 || len <= MaxValueChars ||
          Utf8Column.utf16Length(b.pool, at, len) <= MaxValueChars,
          s"string value exceeds MaxValueChars ($MaxValueChars) in column " +
            s"'${b.spec.name}' of partition $part")
        // ALL string and binary bytes count toward the flush threshold
        // (not just content): that is what bounds every encoded block
        // under [[ContainerFormat.MaxBlockBytes]] (256 MiB — sized for
        // the 3x worst-case UTF-8 expansion of a chunk's chars) on wide
        // tables
        bufBytes += len
        rowPuts += 1
      case b => wrongLane(b, if (utf8) "string" else "binary")
    }

    /** A float-array value, copied into the column's float pool in the
      * same pass that rejects a null element: the stored shape is a dense
      * vector, where a null element would silently decode as 0.0f.
      */
    def putFloats(c: Int, a: ArrayData): Unit = {
      val len = a.numElements()
      val b = appendFloats(c, len)
      val at = b.offsets(bufN)
      var e = 0
      while (e < len) {
        if (a.isNullAt(e)) throw new IllegalArgumentException(
          s"null element in float array column '${b.spec.name}' (partition $part)")
        b.pool(at + e) = a.getFloat(e)
        e += 1
      }
    }

    /** Room for this row's `len` floats in column `c`, from `offsets(bufN)`. */
    private def appendFloats(c: Int, len: Int): FloatBuffer = bufs(c) match {
      case b: FloatBuffer =>
        require(len <= BytesCodecs.MaxFloatDim,
          s"float array exceeds MaxFloatDim in column '${b.spec.name}'")
        b.append(bufN, len)
        bufBytes += 4L * len
        rowPuts += 1
        b
      case b => wrongLane(b, "float-array")
    }

    /** NULL in column `c`, which must be declared nullable. */
    def putNull(c: Int): Unit = {
      val b = bufs(c)
      require(b.spec.nullable,
        s"null value in non-nullable column '${b.spec.name}' (partition $part)")
      b.putNull(bufN, bmBytes)
      rowPuts += 1
    }

    /** Close the row: every live column took exactly one put. */
    def endRow(): Unit = {
      require(rowPuts == bufs.length,
        s"row has $rowPuts puts for ${bufs.length} columns (partition $part)")
      rowPuts = 0
      bufN += 1
      if (bufN >= chunkRowsCap ||
          (bufBytes >= ChunkContentBytes && contentSize >= ChunkContentBytes)) flushChunk()
    }

    /** The chunk's value size as the flush threshold measures it: strings
      * in UTF-16 chars, everything else in bytes. Chars never exceed
      * UTF-8 bytes, so [[bufBytes]] bounds it and chars are counted only
      * once that bound reaches the threshold.
      */
    private def contentSize: Long = {
      var size = bufBytes
      var k = 0
      while (k < strBufs.length) { size += strBufs(k).chars() - strBufs(k).used; k += 1 }
      size
    }

    /** The one Spark-value -> stored-value conversion: field `c` of `row`,
      * in Spark's internal representation of live column `c`'s type
      * ([[Kind.putField]]).
      */
    def putField(c: Int, row: InternalRow): Unit =
      if (row.isNullAt(c)) putNull(c)
      else kinds(c).putField(this, c, row, bufs(c).spec)

    /** One row whose field i is live column i ([[putField]] each), closed. */
    def putRow(row: InternalRow): Unit = {
      var c = 0
      while (c < bufs.length) { putField(c, row); c += 1 }
      endRow()
    }

    /** The inverse of the container decode ([[ContainerFormat.readChunk]]):
      * row `j` of a decoded column back into column `c`'s stored form
      * (bijective on stored values: the writer already canonicalized NaN).
      */
    def putDecoded(c: Int, d: DecodedColumn, j: Int): Unit =
      if (!d.validAt(j)) putNull(c)
      else d.lane match {
        case Lane.Longs => putLong(c, d.longs(j))
        // booleans decode to 0/1 ints, floats to their sortable-int bits
        case Lane.Ints => putLong(c, d.ints(j).toLong)
        case Lane.Doubles => putLong(c, DoubleBits.toSortableLong(d.doubles(j)))
        case Lane.Bytes =>
          val u = d.bytes
          putBytes(c, u.pool, Platform.BYTE_ARRAY_OFFSET + u.offsets(j), u.lens(j),
            utf8 = kinds(c).stored == Stored.Utf8)
        case Lane.Floats =>
          val f = d.floats
          val b = appendFloats(c, f.lens(j))
          System.arraycopy(f.pool, f.offsets(j), b.pool, b.offsets(bufN), f.lens(j))
      }

    /** Flush, write the container, and build its manifest. Publication
      * is the caller's: the DSv2 job commit ([[graft.sources.GraftWrite]])
      * or a maintenance swap, so a failed or killed write never exposes
      * a partial table.
      */
    def finish(): TableManifest = {
      flushChunk()

      val digestHex = partDigest.digest().map(b => f"$b%02x").mkString
      if (rows > 0) {
        // tmp name carries the task ATTEMPT id: two attempts of the same
        // partition (speculation, or a retry racing a zombie task) must
        // never interleave writes into one tmp file before the atomic rename
        ContainerIO.writeAtomic(conf,
          s"$outDir/blocks/.tmp-part-$name-a$attemptId",
          s"$outDir/blocks/part-$name.gblk", w.result(), checksummed = false)
      }
      val cols = {
        val b = Seq.newBuilder[ColumnMetric]
        colMetrics.forEach { (name, m) =>
          b += ColumnMetric(name, codecByCol.get(name), m(0), m(1),
            minVal = if (m(4) == 1L) m(2) else 0L,
            maxVal = if (m(4) == 1L) m(3) else 0L,
            hasRange = m(4) == 1L)
        }
        b.result()
      }
      val encTotal = cols.map(_.encodedBytes).sum
      TableManifest(name, part, rows, chunks, rawTotal, encTotal,
        digestHex, schema.map(s => (s.name, s.packed)), digestCol, cols,
        chunkIndex.result())
    }
  }

  private[graft] object PartitionEncoder {
    /** One live column's chunk buffer; its class is the column's stored
      * form. A NULL row sets a bit in the lazily allocated validity
      * bitmap and buffers a placeholder.
      */
    private sealed abstract class ColumnBuffer(val spec: ColumnSpec) {
      /** Block group: 0 numeric, 1 string, 2 binary, 3 float array. */
      def group: Int
      val nameBytes: Array[Byte] = spec.name.getBytes(UTF_8)
      var nulls: Array[Byte] = null
      var nullCount = 0
      protected def putPlaceholder(r: Int): Unit
      final def putNull(r: Int, bmBytes: Int): Unit = {
        if (nulls == null) nulls = new Array[Byte](bmBytes)
        nulls(r >> 3) = (nulls(r >> 3) | (1 << (r & 7))).toByte
        nullCount += 1
        putPlaceholder(r)
      }
      def clear(): Unit = {
        if (nullCount > 0) java.util.Arrays.fill(nulls, 0.toByte)
        nullCount = 0
      }
    }

    private object ColumnBuffer {
      def apply(s: ColumnSpec, chunkRowsCap: Int): ColumnBuffer = Kinds(s.kind).stored match {
        case Stored.Utf8 | Stored.Binary => new BytesBuffer(s, chunkRowsCap)
        case Stored.FloatArray => new FloatBuffer(s, chunkRowsCap)
        case Stored.WideLong | Stored.NarrowInt => new LongBuffer(s, chunkRowsCap)
      }
    }

    /** Integer-stored kinds: wide int64 or narrow i32. Grows by doubling
      * up to the chunk row cap.
      */
    private final class LongBuffer(spec: ColumnSpec, maxRows: Int)
        extends ColumnBuffer(spec) {
      def group = 0
      val narrow: Boolean = Kinds(spec.kind).stored == Stored.NarrowInt
      var vals = new Array[Long](math.min(maxRows, 1024))
      def put(r: Int, v: Long): Unit = {
        if (r == vals.length)
          vals = java.util.Arrays.copyOf(vals, math.min(maxRows.toLong, 2L * r).toInt)
        vals(r) = v
      }
      // flushChunk re-fills null slots with a real value
      protected def putPlaceholder(r: Int): Unit = put(r, 0L)
    }

    /** Variable-length values as slices of one pool (row r is
      * `pool(offsets(r) until offsets(r) + lens(r))`), the write-side
      * twin of the decoded slice columns. A NULL row holds an empty slice.
      */
    private sealed abstract class SliceBuffer(spec: ColumnSpec, maxRows: Int)
        extends ColumnBuffer(spec) {
      /** Pool slots in use: the buffered values' total length. */
      var used = 0
      var offsets = new Array[Int](math.min(maxRows, 1024))
      var lens = new Array[Int](offsets.length)
      /** Grow the pool, by doubling, to at least `need` slots. */
      protected def reserve(need: Long): Unit
      protected final def grown(length: Int, need: Long): Int =
        math.min(math.max(need, 2L * length), Int.MaxValue - 16L).toInt

      /** Room for row r's `len` values; returns their pool offset. */
      final def append(r: Int, len: Int): Int = {
        if (r == offsets.length) {
          val cap = math.min(maxRows.toLong, 2L * r).toInt
          offsets = java.util.Arrays.copyOf(offsets, cap)
          lens = java.util.Arrays.copyOf(lens, cap)
        }
        reserve(used.toLong + len)
        offsets(r) = used
        lens(r) = len
        used += len
        offsets(r)
      }
      protected final def putPlaceholder(r: Int): Unit = append(r, 0)
      /** `a` cut to the first n rows. */
      protected final def first(n: Int, a: Array[Int]): Array[Int] =
        if (n == a.length) a else java.util.Arrays.copyOf(a, n)
      override def clear(): Unit = { super.clear(); used = 0 }
    }

    /** STRING (UTF-8) and BINARY values in one byte pool. A NULL string
      * row's empty slice is part of the digest and string zone stats.
      */
    private final class BytesBuffer(spec: ColumnSpec, maxRows: Int)
        extends SliceBuffer(spec, maxRows) {
      val utf8: Boolean = Kinds(spec.kind).stored == Stored.Utf8
      def group = if (utf8) 1 else 2
      var pool = new Array[Byte](1 << 14)
      protected def reserve(need: Long): Unit =
        if (need > pool.length) pool = java.util.Arrays.copyOf(pool, grown(pool.length, need))
      // UTF-16 chars of pool(0 until counted), counted on demand
      private var counted = 0
      private var charCount = 0L

      /** UTF-16 chars of the buffered values (strings only). */
      def chars(): Long = {
        charCount += Utf8Column.utf16Length(pool, counted, used - counted)
        counted = used
        charCount
      }
      def column(n: Int): Utf8Column = new Utf8Column(pool, first(n, offsets), first(n, lens))

      override def clear(): Unit = { super.clear(); counted = 0; charCount = 0L }
    }

    /** ARRAY<FLOAT> values in one float pool; a NULL row is a
      * zero-dimension vector.
      */
    private final class FloatBuffer(spec: ColumnSpec, maxRows: Int)
        extends SliceBuffer(spec, maxRows) {
      def group = 3
      var pool = new Array[Float](1 << 12)
      protected def reserve(need: Long): Unit =
        if (need > pool.length) pool = java.util.Arrays.copyOf(pool, grown(pool.length, need))
      def column(n: Int): FloatsColumn = new FloatsColumn(pool, first(n, offsets), first(n, lens))
    }
  }

  /** The committed snapshot's manifests as a DataFrame (metrics/lineage
    * query surface): their commit markers, never a `manifests/` glob,
    * which would also count a generation kept only for time travel and
    * crash leftovers.
    */
  def manifests(spark: SparkSession, outDir: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    spark.read.json(Manifests.readCommitted(conf, outDir)
      .map(m => Manifests.manifestPath(outDir, m.name)): _*)
  }

  // ---------------------------------------------------------------- decode

  /** All COMMITTED rows of the engine table at `outDir` as typed rows:
    * the `graft` DSv2 scan read as [[DerivedRow]]s, so a full decode is
    * planned, read and verified exactly as every other query is
    * (chunk-granular splits, per-block CRC32C checks, and every chunk's
    * per-row-content sha256 digest, since the typed rows read
    * `content`). Projected/filtered reads should use [[readColumns]] /
    * `spark.read.format("graft")` directly, where pruning and pushdown
    * skip blocks and chunks.
    */
  def decode(spark: SparkSession, outDir: String): Dataset[DerivedRow] = {
    import spark.implicits._
    spark.read.format("graft").load(outDir).as[DerivedRow]
  }

  /** Columnar projection read: decode ONLY the requested columns. Routed
    * through the DSv2 scan, whose column pruning skips every non-selected
    * block (the format's per-column blocks + length prefixes make
    * projection a pure position advance — no IO, no decode).
    */
  def readColumns(spark: SparkSession, outDir: String,
                  columns: Seq[String]): DataFrame = {
    require(columns.nonEmpty)
    val unknown = columns.toSet -- longColumns.toSet -- stringColumns.toSet
    require(unknown.isEmpty, s"unknown columns: $unknown")
    spark.read.format("graft").load(outDir).select(columns.map(col): _*)
  }
}
