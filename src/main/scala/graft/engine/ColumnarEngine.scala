package graft.engine

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.codecs._
import graft.core.BlockWriter
import org.apache.spark.sql.catalyst.InternalRow
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
  * salted `repartitionByRange` over (repo, salt, path) so giant repos
  * can't skew a partition → `sortWithinPartitions` to maximize run
  * lengths → `mapPartitions` chunked stats+select+encode → one block
  * container file + one manifest (commit marker) per partition.
  *
  * Decode job: `binaryFile` scan of containers → per-chunk codec decode →
  * typed rows, with each chunk's sha256-of-row-sha256s digest recomputed
  * and checked against the stored digest (per-row content integrity).
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

  /** Salted repartition + in-partition sort (north_rule skew handling):
    * the salt splits any giant repo across `saltBuckets` partitions, so no
    * single partition carries more than ~1/saltBuckets of a hot repo.
    *
    * Deliberately HASH partitioning (Murmur3, fixed seed — deterministic
    * across runs and cluster sizes), not `repartitionByRange`: Spark's
    * range partitioner derives its reservoir-sampling seed from the RDD
    * id, so range boundaries drift between job runs — which would break
    * partition-granular checkpoint-resume (a resumed run must reproduce
    * the exact partition membership of the failed run). The
    * `sortWithinPartitions` below restores what the codecs actually need
    * from range partitioning: long (repo, lang, path) runs inside each
    * partition for RLE/dict/delta.
    */
  def partitionForEncoding(ds: Dataset[DerivedRow], numParts: Int,
                           saltBuckets: Int = 16): Dataset[DerivedRow] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.withColumn("_salt", pmod(xxhash64($"path"), lit(saltBuckets.toLong)))
      .repartition(numParts, $"repo", $"_salt")
      .sortWithinPartitions($"repo", $"lang", $"path")
      .drop("_salt")
      .as[DerivedRow]
  }

  /** Resumable encode: partitions whose manifest already exists are
    * skipped (checkpoint-resume at partition granularity; container files
    * are written tmp-then-atomic-rename, manifest last, so a killed run
    * leaves either nothing or a fully committed partition). Returns the
    * manifests this run wrote, by part.
    */
  def encode(ds: Dataset[DerivedRow], outDir: String, numParts: Int,
             saltBuckets: Int = 16): Array[TableManifest] = {
    val spark = ds.sparkSession
    // all container/manifest IO goes through the Hadoop FileSystem API so
    // outDir may be file://, hdfs://, s3a://… on a real cluster; tasks
    // rebuild the driver's Hadoop conf from this broadcast snapshot
    val confKv = ContainerIO.confSnapshot(spark)
    val dconf = ContainerIO.confFrom(confKv)
    ContainerIO.mkdirs(dconf, s"$outDir/blocks")
    ContainerIO.mkdirs(dconf, s"$outDir/manifests")
    // resume is only meaningful against the same partitioning layout:
    // refuse to "resume" a run whose numParts/saltBuckets differ, instead
    // of silently skipping partitions that never existed in this layout.
    val jobDesc = s"$outDir/_job.json"
    val desc = s"""{"numParts":$numParts,"saltBuckets":$saltBuckets}"""
    if (ContainerIO.exists(dconf, jobDesc)) {
      val prev = new String(ContainerIO.readAll(dconf, jobDesc), UTF_8)
      require(prev == desc,
        s"outDir $outDir was written with layout $prev; cannot resume with $desc")
    } else ContainerIO.writeAtomic(dconf, s"$outDir/.tmp-job.json", jobDesc,
      desc.getBytes(UTF_8))
    val done = completedParts(outDir, dconf)
    val doneB = spark.sparkContext.broadcast(done)
    val confB = spark.sparkContext.broadcast(confKv)
    val out = outDir
    val manifests = partitionForEncoding(ds, numParts, saltBuckets)
      .mapPartitions { it =>
        val part = TaskContext.getPartitionId()
        if (doneB.value.contains(part)) Iterator.empty
        else Iterator.single(
          encodePartition(part, it, out, ContainerIO.confFrom(confB.value)))
      }(org.apache.spark.sql.Encoders.javaSerialization(classOf[TableManifest]))
      .collect()
    // consolidated manifest index: query planning over this table becomes
    // ONE driver read instead of O(partitions); rewritten on every encode
    // (including resumed runs) from the committed manifests on disk
    Manifests.consolidate(dconf, outDir)
    manifests.sortBy(_.part)
  }

  /** Partition ids with a committed manifest in outDir. */
  def completedParts(outDir: String,
                     conf: org.apache.hadoop.conf.Configuration =
                       ContainerIO.localConf()): Set[Int] = {
    ContainerIO.listNames(conf, s"$outDir/manifests").collect {
      case name if name.startsWith("part-") && name.endsWith(".json") =>
        name.stripPrefix("part-").stripSuffix(".json").toInt
    }.toSet
  }

  /** Attempt id for tmp-file uniqueness; 0 outside a task (unit tests). */
  private def attemptId: Long =
    Option(TaskContext.get()).map(_.taskAttemptId()).getOrElse(0L)

  private def encodePartition(part: Int, it: Iterator[DerivedRow],
                              outDir: String,
                              conf: org.apache.hadoop.conf.Configuration): TableManifest = {
    val e = new PartitionEncoder(part, outDir, conf)
    while (it.hasNext) e.add(it.next())
    e.finish()
  }

  /** Push-style single-partition encoder: one typed put per live column
    * (`putLong`/`putString`/`putBinary`/`putFloats`/`putNull`, addressed
    * by column index), then `endRow()`; chunks flush at the same
    * thresholds as the pull path, and `finish` commits the container +
    * manifest atomically. Shared by the `mapPartitions` encode job, the
    * `graft` DataSource V2 writer and the maintenance rewrites, so none
    * buffers more than one chunk beyond the flush thresholds.
    *
    * `schema` may hold any [[ColumnSpec]] kinds
    * ([[ColumnarEngine.DefaultSchema]] = the engine's [[DerivedRow]]
    * shape): buffering is columnar, one buffer per live column whose
    * stored form ([[Kind.stored]]) is fixed here, once. The chunk digest
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
    private val bmBytes = (chunkRowsCap + 7) >> 3
    private val digestCol = digestColumnOf(schema)
    private val digestIdx = columns.indexWhere(_.name == digestCol)
    private val w = new BlockWriter(1 << 20)
    w.putBytes(Magic)
    w.putVarint(part.toLong)
    private val sha = java.security.MessageDigest.getInstance("SHA-256")
    private val partDigest = java.security.MessageDigest.getInstance("SHA-256")
    // name -> (raw, enc, min, max, hasRange)
    private val colMetrics = new java.util.LinkedHashMap[String, Array[Long]]()
    private val codecByCol = new java.util.LinkedHashMap[String, String]()
    private val chunkIndex = Seq.newBuilder[ChunkStats]
    private var rows = 0L
    private var chunks = 0
    private var rawTotal = 0L

    // rows buffered in the current chunk, the value bytes they hold, and
    // the puts made into the row being built
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
          val vals = bufs(digestIdx).asInstanceOf[StrBuffer].vals
          var i = 0
          while (i < n) {
            sha.reset()
            chunkSha.update(sha.digest(vals(i).getBytes(UTF_8)))
            i += 1
          }
          chunkSha.digest()
        }

      def writeCol(name: String, kind: Int, block0: Array[Byte],
                   codecName: String, raw: Long,
                   min: Long = 0L, max: Long = 0L, hasRange: Boolean = false,
                   nullBm: Array[Byte] = null, nullCount: Int = -1): Unit = {
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
        val nb = name.getBytes(UTF_8)
        w.putVarint(nb.length.toLong)
        w.putBytes(nb)
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
        codecByCol.merge(name, codecName, (a, b) => if (a == b) a else s"$a+$b")
      }

      var k = 0
      while (k < blockOrder.length) {
        val b = bufs(blockOrder(k))
        val nm = b.spec.name
        val kind = b.spec.kind
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
            val st = LongCodecs.stats(vals, n)
            if (l.narrow)
              // narrow i32 column (int / date days / float sortable bits):
              // zigzag-varint block behind the overflow-checked narrow
              // decode ([[graft.codecs.IntCodecs]]); the block carries its
              // true kind
              writeCol(nm, kind, IntCodecs.encode(vals, n), "varint-i32",
                4L * n, st.min, st.max, hasRange, bm, nullCount)
            else {
              // wide int64 column (long / timestamp micros / double
              // sortable bits / decimal unscaled / boolean 0-1):
              // stats-selected codec through the kind-0 machinery
              // (booleans bit-pack to ~1 bit)
              val codec = LongCodecs.select(st)
              writeCol(nm, kind, codec.encode(vals, n), codec.name,
                8L * n, st.min, st.max, hasRange, bm, nullCount)
            }
          case s: StrBuffer =>
            val strs = new Array[String](n)
            s.vals.copyToArray(strs, 0, n)
            val st = StringCodecs.stats(strs, n)
            val (codec, block) = StringCodecs.encodeBest(strs, n, st,
              fsstStates.computeIfAbsent(nm, _ => new StringCodecs.FsstState))
            // null rows hold the "" placeholder in the block (the digest
            // and string zone stats include it — "" can only widen a
            // dict/range, never exclude a real value, so pruning stays
            // sound)
            writeCol(nm, kind, block, codec.name, st.totalBytes,
              nullBm = bm, nullCount = nullCount)
            val (dict, range) = strZoneStats(strs, n)
            dict.foreach(d => chunkStrDicts = chunkStrDicts.updated(nm, d))
            range.foreach(r => chunkStrRanges = chunkStrRanges.updated(nm, r))
          case bb: BinBuffer =>
            // raw length-prefixed payloads — no zone stats (blob
            // equality/range pruning has no sound proof shape here)
            val vals = new Array[Array[Byte]](n)
            bb.vals.copyToArray(vals, 0, n)
            var raw = 0L
            var i = 0
            while (i < n) { raw += vals(i).length; i += 1 }
            writeCol(nm, kind, BytesCodecs.encodeBinary(vals, n), "bin-raw", raw,
              nullBm = bm, nullCount = nullCount)
          case f: FltBuffer =>
            // packed little-endian IEEE-754
            val vals = new Array[Array[Float]](n)
            f.vals.copyToArray(vals, 0, n)
            var raw = 0L
            var i = 0
            while (i < n) { raw += 4L * vals(i).length; i += 1 }
            writeCol(nm, kind, BytesCodecs.encodeFloats(vals, n), "f32-raw", raw,
              nullBm = bm, nullCount = nullCount)
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
      */
    private def strZoneStats(vals: Array[String], n: Int)
        : (Option[Seq[String]], Option[(String, String)]) = {
      val seen = new java.util.LinkedHashSet[String]()
      var dictOk = true
      var rangeOk = true
      var min: String = null
      var max: String = null
      var i = 0
      while (i < n && (dictOk || rangeOk)) {
        val v = vals(i)
        if (v.length > Manifests.StrValueCap) { dictOk = false; rangeOk = false }
        else {
          if (dictOk) {
            seen.add(v)
            if (seen.size > Manifests.StrDictCap) dictOk = false
          }
          if (rangeOk) {
            var j = 0
            while (rangeOk && j < v.length) {
              if (v.charAt(j) >= 0x80) rangeOk = false
              j += 1
            }
            if (rangeOk) {
              if (min == null || v.compareTo(min) < 0) min = v
              if (max == null || v.compareTo(max) > 0) max = v
            }
          }
        }
        i += 1
      }
      (if (dictOk && i == n) Some(seen.iterator().asScala.toSeq.sorted) else None,
       if (rangeOk && i == n && min != null) Some((min, max)) else None)
    }

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

    /** A string value; `null` is [[putNull]]. */
    def putString(c: Int, v: String): Unit = bufs(c) match {
      case _ if v == null => putNull(c)
      case b: StrBuffer =>
        require(v.length <= MaxValueChars,
          s"string value exceeds MaxValueChars ($MaxValueChars) in column " +
            s"'${b.spec.name}' of partition $part")
        b.vals += v
        // ALL string bytes count toward the flush threshold (not just
        // content): that is what bounds every encoded block under
        // [[ContainerFormat.MaxBlockBytes]] (256 MiB — sized for the 3x
        // worst-case UTF-8 expansion of a chunk's chars) on wide tables
        bufBytes += v.length
        rowPuts += 1
      case b => wrongLane(b, "string")
    }

    /** A binary value; `null` is [[putNull]]. */
    def putBinary(c: Int, v: Array[Byte]): Unit = bufs(c) match {
      case _ if v == null => putNull(c)
      case b: BinBuffer =>
        require(v.length <= BytesCodecs.MaxBinaryBytes,
          s"binary value exceeds MaxBinaryBytes in column '${b.spec.name}'")
        b.vals += v
        bufBytes += v.length
        rowPuts += 1
      case b => wrongLane(b, "binary")
    }

    /** A float-array value; `null` is [[putNull]]. */
    def putFloats(c: Int, v: Array[Float]): Unit = bufs(c) match {
      case _ if v == null => putNull(c)
      case b: FltBuffer =>
        require(v.length <= BytesCodecs.MaxFloatDim,
          s"float array exceeds MaxFloatDim in column '${b.spec.name}'")
        b.vals += v
        bufBytes += 4L * v.length
        rowPuts += 1
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
      if (bufN >= chunkRowsCap || bufBytes >= ChunkContentBytes) flushChunk()
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
          if (kinds(c).stored == Stored.Utf8) putString(c, u.string(j))
          else putBinary(c, java.util.Arrays.copyOfRange(
            u.pool, u.offsets(j), u.offsets(j) + u.lens(j)))
        case Lane.Floats => putFloats(c, d.floats.slice(j))
      }

    /** [[DerivedRow]] convenience for the engine encode job; valid only
      * with the default schema (the column indices below ARE
      * [[DefaultSchema]]'s order).
      */
    def add(r: DerivedRow): Unit = {
      putString(0, r.repo); putString(1, r.path); putString(2, r.commit)
      putString(3, r.lang); putString(4, r.content)
      putLong(5, r.len_content); putLong(6, r.hash64); putLong(7, r.commit_ord)
      putLong(8, r.repo_code); putLong(9, r.lang_code); putLong(10, r.path_code)
      endRow()
    }

    def finish(): TableManifest = finish(publishManifest = true)

    /** Flush, write the container, and build the manifest. The engine
      * encode job publishes the manifest here (partition-granular commit);
      * the DSv2 writer passes `publishManifest = false` and defers
      * publication to JOB commit ([[graft.sources.GraftBatchWrite]]) so a
      * failed/killed write job never exposes a partial table.
      */
    def finish(publishManifest: Boolean): TableManifest = {
      flushChunk()

      val digestHex = partDigest.digest().map(b => f"$b%02x").mkString
      if (rows > 0) {
        // tmp name carries the task ATTEMPT id: two attempts of the same
        // partition (speculation, or a retry racing a zombie task) must
        // never interleave writes into one tmp file before the atomic rename
        ContainerIO.writeAtomic(conf,
          s"$outDir/blocks/.tmp-part-$name-a$attemptId",
          s"$outDir/blocks/part-$name.gblk", w.result())
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
      val manifest = TableManifest(name, part, rows, chunks, rawTotal, encTotal,
        digestHex, schema.map(s => (s.name, s.packed)), digestCol, cols,
        chunkIndex.result())
      if (publishManifest) Manifests.writeManifest(conf, outDir, manifest, attemptId)
      manifest
    }
  }

  private[graft] object PartitionEncoder {
    private val EmptyBytes = new Array[Byte](0)
    private val EmptyFloats = new Array[Float](0)

    /** One live column's chunk buffer; its class is the column's stored
      * form. A NULL row sets a bit in the lazily allocated validity
      * bitmap and buffers a placeholder.
      */
    private sealed abstract class ColumnBuffer(val spec: ColumnSpec) {
      /** Block group: 0 numeric, 1 string, 2 binary, 3 float array. */
      def group: Int
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
        case Stored.Utf8 => new StrBuffer(s)
        case Stored.Binary => new BinBuffer(s)
        case Stored.FloatArray => new FltBuffer(s)
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

    private sealed abstract class RefBuffer[T <: AnyRef](spec: ColumnSpec, placeholder: T)
        extends ColumnBuffer(spec) {
      val vals = new scala.collection.mutable.ArrayBuffer[T](1024)
      protected def putPlaceholder(r: Int): Unit = vals += placeholder
      override def clear(): Unit = { super.clear(); vals.clear() }
    }
    // the "" placeholder is part of the digest and string zone stats
    private final class StrBuffer(spec: ColumnSpec)
        extends RefBuffer[String](spec, "") { def group = 1 }
    private final class BinBuffer(spec: ColumnSpec)
        extends RefBuffer[Array[Byte]](spec, EmptyBytes) { def group = 2 }
    private final class FltBuffer(spec: ColumnSpec)
        extends RefBuffer[Array[Float]](spec, EmptyFloats) { def group = 3 }
  }

  /** Manifests as a DataFrame (metrics/lineage query surface). */
  def manifests(spark: SparkSession, outDir: String): DataFrame =
    spark.read.json(s"$outDir/manifests/part-*.json")

  // ---------------------------------------------------------------- decode

  /** Decode all COMMITTED containers back to typed rows over the shared
    * streaming core ([[ContainerInput]]/[[ContainerFormat]], the same
    * parse the DSv2 readers use): chunk-at-a-time per-block reads (a
    * task never materializes a whole container), per-block CRC32C
    * verification against the manifest chunk index, and every chunk's
    * per-row-content sha256 digest recomputed and enforced.
    *
    * Builds [[DerivedRow]]s straight from the decoded column arrays —
    * for a FULL typed decode that is ~1.7x faster than routing through
    * the DSv2 scan, whose InternalRow boundary re-encodes every string
    * (String -> UTF8String -> String). Projected/filtered reads should
    * use [[readColumns]] / `spark.read.format("graft")`, where pruning
    * and pushdown win instead.
    */
  def decode(spark: SparkSession, outDir: String): Dataset[DerivedRow] = {
    import spark.implicits._
    val confKv = ContainerIO.confSnapshot(spark)
    // CHUNK-granular task planning (the DSv2 scan's split shape): one
    // task per indexed chunk, so a single giant container decodes across
    // tasks instead of serializing on one (round 5 planned one task per
    // CONTAINER here, which was right only when containers ≈ partitions).
    val planConf = ContainerIO.confFrom(confKv)
    val tasks = Manifests.readCommitted(planConf, outDir)
      .filter(_.rows > 0)
      // a full decode touches every container anyway, so hydrating each
      // index-elided manifest's chunk detail (one marker read per
      // container) is proportional to the work, and chunk-granular task
      // planning needs it
      .map(Manifests.loadChunkIndex(planConf, outDir, _))
      .flatMap { m =>
        val file = m.blockFile(outDir)
        m.chunkIndex.map(cs => (file, cs))
      }
    val needed = Lane.ofSpecs(DefaultSchema)
    // parallelize places exactly one chunk task per partition WITHOUT
    // an exchange (createDataset + repartition paid a full shuffle
    // stage of the task descriptors on every decode job — measured
    // ~0.1 s/job of pure scheduling at n=8)
    val rdd = spark.sparkContext
      .parallelize(tasks, math.max(tasks.size, 1))
      .flatMap { case (file, cs) =>
        val (in, fileLen) =
          ContainerFormat.open(file, ContainerIO.confFrom(confKv))
        Option(TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => in.close()))
        ContainerFormat.chunks(in, fileLen, file, Seq(cs), needed).flatMap { chunk =>
          ContainerFormat.verifyContentDigest(chunk)
          // typed rows need Java Strings: materialize each column once
          val Seq(repo, pth, cmt, lng, content) =
            stringColumns.map(chunk.col(_).bytes.strings)
          val Seq(lenC, hash, ord, repoC, langC, pathC) =
            longColumns.map(chunk.col(_).longs)
          (0 until chunk.rows).iterator.map { j =>
            DerivedRow(repo(j), pth(j), cmt(j), lng(j), content(j), lenC(j),
              hash(j), ord(j), repoC(j), langC(j), pathC(j))
          }
        }
      }
    spark.createDataset(rdd)
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
