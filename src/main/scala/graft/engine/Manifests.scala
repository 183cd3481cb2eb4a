package graft.engine

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration

/** Per-chunk statistics recorded in the partition manifest. `offset` /
  * `length` bound the chunk's byte range inside the container file (from
  * the chunk's row-count varint through its 32-byte digest inclusive), so
  * readers can plan CHUNK-granular input splits and stream one chunk at a
  * time instead of materializing the whole container (the parquet
  * row-group shape).
  *
  *  - `longRanges`:  column -> (min, max) zone map per integer column.
  *  - `strDicts`:    column -> complete distinct-value set, recorded only
  *                   when the chunk has <= [[Manifests.StrDictCap]]
  *                   distinct values each <= [[Manifests.StrValueCap]]
  *                   bytes (e.g. `lang`) — exact membership pruning for
  *                   `lang = 'en'` / `IN` filters.
  *  - `strRanges`:   column -> (min, max) recorded only when every value
  *                   in the chunk is pure ASCII and <= StrValueCap long:
  *                   ASCII guarantees Java/UTF8String/DuckDB collation
  *                   agreement, so range pruning stays PROOF-based.
  *  - `blockCrcs`:   column -> CRC32C of the column's encoded block bytes;
  *                   verified on every decoded block, so corruption is
  *                   caught even on pruned reads that never touch the
  *                   content digest.
  *  - `nullCounts`:  column -> number of NULL rows in the chunk, recorded
  *                   for every NULLABLE column (0 included — the explicit
  *                   zero is what makes `IS NULL` pruning proof-based: an
  *                   ABSENT entry — a non-nullable column, or one the
  *                   container predates — must admit). `IS NOT NULL`
  *                   skips all-null chunks (count == rows); `IS NULL`
  *                   skips fully-present ones (count == 0).
  */
final case class ChunkStats(
    offset: Long, length: Long, rows: Int,
    longRanges: Map[String, (Long, Long)],
    strDicts: Map[String, Seq[String]],
    strRanges: Map[String, (String, String)],
    blockCrcs: Map[String, Long],
    nullCounts: Map[String, Int] = Map.empty) extends ChunkRange {
  def crcs: Map[String, Long] = blockCrcs
}

/** Container-level fold of the per-chunk statistics — the GROUP SUMMARY
  * of the two-level metadata tree (round 8). An entry appears only when
  * EVERY chunk of the container carries the underlying stat, so each
  * field keeps the same proof discipline as its per-chunk original:
  *
  *  - `strRanges`:  column -> (min, max) over all chunks, present iff
  *                  every chunk recorded an all-ASCII range — the
  *                  collation-agreement proof string MIN/MAX pushdown
  *                  and group-level string pruning need.
  *  - `strDicts`:   column -> union of the chunk dicts, present iff
  *                  every chunk has one and the union stays small.
  *  - `nullCounts`: column -> total NULL rows, present iff every chunk
  *                  has an entry (explicit zeros included) — feeds
  *                  COUNT(col) pushdown and IS [NOT] NULL group skip.
  */
final case class ManifestEnvelope(
    strRanges: Map[String, (String, String)] = Map.empty,
    strDicts: Map[String, Seq[String]] = Map.empty,
    nullCounts: Map[String, Long] = Map.empty)

object ManifestEnvelope {
  /** Max recorded union-dict size: past this the dict stops pruning
    * meaningfully and only bloats the index entry.
    */
  final val DictCap = 64

  def fromChunks(chunks: Seq[ChunkStats]): ManifestEnvelope = {
    if (chunks.isEmpty) return ManifestEnvelope()
    val h = chunks.head
    val sr = h.strRanges.keySet
      .filter(c => chunks.forall(_.strRanges.contains(c)))
      .map { c =>
        val rs = chunks.map(_.strRanges(c))
        c -> (rs.map(_._1).min, rs.map(_._2).max)
      }.toMap
    val sd = h.strDicts.keySet
      .filter(c => chunks.forall(_.strDicts.contains(c)))
      .flatMap { c =>
        val u = chunks.flatMap(_.strDicts(c)).distinct.sorted
        if (u.size <= DictCap) Some(c -> u) else None
      }.toMap
    val nc = h.nullCounts.keySet
      .filter(c => chunks.forall(_.nullCounts.contains(c)))
      .map(c => c -> chunks.iterator.map(_.nullCounts(c).toLong).sum)
      .toMap
    ManifestEnvelope(sr, sd, nc)
  }
}

/** One column's encode metrics: the codec the selector chose, raw and
  * encoded bytes, and — for integer columns (`hasRange`) — the
  * container-wide (min, max) zone map.
  */
final case class ColumnMetric(column: String, codec: String,
    rawBytes: Long, encodedBytes: Long,
    minVal: Long = 0L, maxVal: Long = 0L, hasRange: Boolean = false)

/** One partition manifest — the one in-memory form of a container's
  * commit marker (`manifests/part-<name>.json`) and of its entry in the
  * manifest index. Writers build it ([[ColumnarEngine.PartitionEncoder]]
  * `finish`), commits stamp it (`copy(commitId = ..)`), and every read
  * path gets it from [[Manifests.parse]]; [[Manifests.toJson]] is its
  * one serialization.
  *
  *  - `name`: the block-file suffix (`blocks/part-<name>.gblk`): the
  *    `<epoch>-<part>` plus the attempt suffix for DataSource V2 writes
  *    (the engine encode among them), so appends never collide; the
  *    maintenance rewrites name theirs `<op>-<runId>-<bin>`.
  *  - `schemaCols`: the container's own schema, (name,
  *    [[ColumnSpec.packed]] kind) in table order; `digestCol` names the
  *    string column whose per-row sha256 feeds the chunk digests
  *    ("" = none). [[Manifests.parse]] guarantees both, and a chunk index
  *    (inline or elided) whenever `rows > 0`.
  *  - `ancestors`: the EPOCH keys this container compacted away (exactly
  *    the epochs whose rows it holds): publish drops a replayed epoch
  *    whole by them, and the listing-fallback normalizer uses them as
  *    the coverage set.
  *  - `partitioning`, `bucketIds`: the write's declared partition
  *    transforms and, for `bucket(n, col)`, the container's OBSERVED
  *    bucket ids (container elimination for point filters on the bucket
  *    column, where zone maps can't help).
  *  - `schemaMarker`: a zero-row manifest whose only payload is its
  *    schema (a RENAME or DROP commits one through the ordinary OCC
  *    path; current names resolve by the highest commit id per
  *    position).
  *  - `commitId`, `commitParts`: the commit generation stamp and, for a
  *    publish, how many containers the epoch's generation holds (the
  *    listing fallback's completeness check); "" / 0 = unstamped.
  *
  * Two-level metadata (round 8): index entries carry
  * `chunksElided = true` — their per-chunk stats are stripped at index
  * commit (the index stays O(containers), not O(chunks)) and replaced by
  * the container-level [[ManifestEnvelope]]. Planning prunes whole
  * containers against the envelope first and hydrates per-chunk detail
  * ([[Manifests.loadChunkIndex]], one read of the container's own
  * commit marker) only for containers the summary admits.
  */
final case class TableManifest(
    name: String, part: Int, rows: Long, chunks: Int,
    rawBytes: Long, encodedBytes: Long, digest: String,
    schemaCols: Seq[(String, Int)],
    digestCol: String,
    columns: Seq[ColumnMetric] = Nil,
    chunkIndex: Seq[ChunkStats] = Nil,
    ancestors: Seq[String] = Nil,
    partitioning: Seq[String] = Nil,
    bucketIds: Map[String, Set[Int]] = Map.empty,
    schemaMarker: Boolean = false,
    commitId: String = "",
    commitParts: Int = 0,
    chunksElided: Boolean = false,
    storedEnvelope: Option[ManifestEnvelope] = None) {
  def blockFile(tableDir: String): String = s"$tableDir/blocks/part-$name.gblk"

  /** Container-wide integer zone maps: the ranged columns' (min, max). */
  lazy val longRanges: Map[String, (Long, Long)] =
    columns.collect { case c if c.hasRange => c.column -> (c.minVal, c.maxVal) }.toMap

  /** Container-level stats fold: the stored summary when elided, else
    * computed from the inline chunk index (identical by construction).
    */
  lazy val env: ManifestEnvelope =
    storedEnvelope.getOrElse(ManifestEnvelope.fromChunks(chunkIndex))
}

/** Manifest + manifest-index IO.
  *
  * The manifest is the partition's COMMIT MARKER: a container file in
  * `blocks/` without a matching `manifests/part-<name>.json` is an orphan
  * from a failed attempt and must be invisible to every read path (scan,
  * statistics, aggregate pushdown all plan from manifests, never from a
  * blocks listing).
  *
  * `_manifest-index.v<N>.json` is one snapshot of every committed
  * manifest, published at job commit so query planning is ONE
  * file read instead of O(partitions) sequential round trips (at 10^5
  * partitions the per-file listing costs minutes of driver time per
  * query). Snapshots are VERSIONED and committed with optimistic
  * concurrency ([[commitIndex]]): each commit claims version N+1 via an
  * atomic create-if-absent and retries on top of any winner, so
  * concurrent appends — two batch jobs, or a streaming-sink epoch next
  * to a batch append — can never drop each other's manifests (round 4's
  * single-file read-modify-write could). Readers take the highest
  * version, else list `manifests/` (disaster recovery: every write
  * commits an index version). At true 10^12-file scale the snapshot
  * itself would be sharded/partitioned Iceberg-style; one file per
  * snapshot is right up to ~10^5 partitions.
  *
  * One codec: [[toJson]] writes a [[TableManifest]] and [[parse]] reads
  * one, both through the one shared [[Json]] mapper. An index snapshot
  * body is the same writer applied to each manifest's [[elided]] form,
  * and is parsed once, straight into manifests. Commits
  * ([[commitIndex]]) transform typed manifests, never JSON strings.
  */
object Manifests {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Record a string dict only when the chunk has at most this many
    * distinct values (bounded enum shape: lang, kind columns).
    */
  final val StrDictCap = 16

  /** Max recorded string value length (dict entries and range bounds);
    * longer values disable the stat rather than truncate it (truncated
    * UPPER bounds are unsafe without parquet-style increment logic).
    */
  final val StrValueCap = 64

  /** Logical partition identity of a (staged) container name: the
    * attempt-qualifying `-a<taskId>` suffix stripped (a replayed epoch
    * or task retry re-stages the same logical name under a new attempt).
    */
  def logicalName(n: String): String = n.replaceFirst("-a\\d+$", "")

  /** Epoch (job / micro-batch) identity of a logical name: the trailing
    * partition ordinal stripped — `q-e5-3` and `q-e5-0` are the same
    * epoch `q-e5`. Replay protection across compaction works at THIS
    * granularity: a replay may re-partition differently, so matching
    * per-container names would only drop part of it.
    */
  def epochKey(logical: String): String = logical.replaceFirst("-\\d+$", "")

  /** Cap on recorded ancestor epoch keys per manifest. Replay depth is
    * bounded by the sink's uncommitted window (one or two epochs), so
    * trimming ancient ancestors can only re-open a replay that Spark
    * can no longer issue; the cap just bounds manifest size over a
    * table's lifetime.
    */
  final val MaxAncestors = 65536

  private val EpochNumRe = """.*-e(\d+)$""".r

  /** Sorted, deduplicated, capped ancestor list: when over the cap,
    * the LOWEST-numbered `-e<N>` epochs are trimmed first (only recent
    * epochs can still be replayed); non-numbered keys (batch job ids)
    * are preferred for retention over trimming-order guesses.
    */
  def capAncestors(anc: Seq[String]): Seq[String] = {
    val s = anc.distinct.sorted
    if (s.size <= MaxAncestors) s
    else {
      val (numbered, rest) = s.partition {
        case EpochNumRe(_) => true
        case _ => false
      }
      if (rest.size >= MaxAncestors)
        // no age order exists for job-id keys: the trim is lexical and
        // best-effort (a replay of a trimmed ancient job re-appends) —
        // reachable only past 65536 distinct compacted batch jobs
        rest.sorted.takeRight(MaxAncestors)
      else {
        val keepNumbered = numbered
          .sortBy { case EpochNumRe(e) => e.toLong; case _ => 0L }
          .takeRight(MaxAncestors - rest.size)
        (rest ++ keepNumbered).sorted
      }
    }
  }

  /** Monotone commit-generation stamp: every manifest landed by one
    * `publish`/`compact` call carries the same id, so the fallback
    * normalizer below can select WHOLE generations instead of mixing
    * containers of two generations of the same epoch (which may
    * partition the same rows differently).
    *
    * Monotonicity is PER TABLE, not per clock: the leading numeric field
    * is `max(max committed predecessor's field + 1, currentTimeMillis)`,
    * so a logically newer generation always orders lexically above every
    * generation visible when it was created — even when the committing
    * driver's wall clock runs BEHIND the previous committer's (streaming
    * restart on another machine, maintenance run elsewhere). Pure wall
    * clock (pre-round-7) let a skewed-back clock stamp a newer
    * generation lexically older, and the listing fallback below would
    * then keep the stale generation over the newer one in the
    * crash-window case.
    *
    * The id's generation field orders above every manifest of `ms`: the
    * snapshot the commit's [[commitIndex]] first builds on
    * ([[readCommittedVersion]]), so the id costs no index read of its
    * own.
    */
  def commitIdAbove(ms: Seq[TableManifest]): String = {
    val prev = ms.iterator.map(m => generation(m.commitId)).maxOption.getOrElse(0L)
    f"${math.max(prev + 1, System.currentTimeMillis())}%013d-" +
      java.util.UUID.randomUUID().toString.take(8)
  }

  /** The leading numeric field of a commit id; 0 when unstamped. */
  def generation(commitId: String): Long = {
    val f = commitId.takeWhile(_.isDigit)
    if (f.nonEmpty && f.length <= 17) f.toLong else 0L
  }

  /** Normalize a `manifests/` LISTING into a consistent snapshot. The
    * versioned index is the authority; the listing is the disaster-
    * recovery fallback and can contain stale commit markers from crash
    * windows — a publish or compaction that died between its index
    * commit and its cleanup deletes. Resurrecting those doubles rows, so:
    *
    *  1. among PLAIN manifests (no ancestors) sharing an epoch, only
    *     the newest commit generation is kept — an epoch replay may
    *     re-partition the same rows, so whole generations are selected,
    *     never mixed;
    *  2. COMPACTED manifests (non-empty `ancestors` = exactly the
    *     epochs whose rows they hold) are taken newest-commit-first,
    *     dropping any whose ancestors intersect epochs already covered
    *     (a crashed compaction's stage, or the one it superseded);
    *  3. plain manifests whose epoch is covered by a kept compacted
    *     generation are dropped (their rows live in it).
    */
  private[engine] def normalizeFallback(ms: Seq[TableManifest]): Seq[TableManifest] = {
    def epoch(m: TableManifest) = epochKey(logicalName(m.name))
    if (ms.forall(_.ancestors.isEmpty) && ms.map(epoch).distinct.size == ms.size)
      return ms // common shape: nothing to normalize
    val (compacts, plain) = ms.partition(_.ancestors.nonEmpty)
    // newest COMPLETE generation per plain epoch: a generation whose
    // recorded commitParts exceeds the manifests present is a commit
    // that crashed mid-way through its marker writes — it must never
    // beat the complete committed generation below it (every commit
    // stamps the count; a schema marker, built at landing, carries none
    // and is one whole generation by itself)
    val keptPlain = plain.groupBy(epoch).values.flatMap { group =>
      val gens = group.groupBy(_.commitId).toSeq
        .sortBy(_._1)(Ordering.String.reverse)
      def complete(g: Seq[TableManifest]): Boolean =
        g.size >= g.map(_.commitParts).max
      // NO complete generation at all = every generation of this epoch
      // is a publish that crashed mid-manifest-writes: surface NOTHING
      // rather than promote a partial epoch into the authoritative
      // index (a crashed publish is retried by its job/stream anyway)
      gens.find(g => complete(g._2)).map(_._2).getOrElse(Nil)
    }.toSeq
    // compacted generations, newest first, no overlapping coverage
    // (stored ancestors are epoch keys, so coverage is exact key match)
    var covered = Set.empty[String]
    val keptCompacts = compacts
      .sortBy(m => (m.commitId, m.name))(Ordering.Tuple2(
        Ordering.String.reverse, Ordering.String.reverse))
      .filter { m =>
        val anc = m.ancestors.toSet
        if ((anc & covered).nonEmpty) false
        else { covered ++= anc; true }
      }
    val keep = (keptCompacts ++ keptPlain.filterNot(m => covered(epoch(m))))
      .map(_.name).toSet
    // preserve listing order for deterministic index bodies
    ms.filter(m => keep(m.name))
  }

  def manifestPath(tableDir: String, name: String): String =
    s"$tableDir/manifests/part-$name.json"

  /** Remove one container: its commit marker first, then its block — a
    * crash in between leaves an unreferenced block for vacuum, never a
    * marker naming a missing block.
    */
  def deleteContainer(fs: org.apache.hadoop.fs.FileSystem, tableDir: String,
                      name: String): Unit = {
    fs.delete(new org.apache.hadoop.fs.Path(manifestPath(tableDir, name)), false)
    fs.delete(new org.apache.hadoop.fs.Path(s"$tableDir/blocks/part-$name.gblk"), false)
  }

  // --------------------------------------------------------------- codec

  /** The one JSON mapper of graft's metadata: manifests, index
    * snapshots and the stream seen-log. Thread-safe once configured.
    */
  private[graft] val Json = new ObjectMapper()

  /** A manifest's JSON: the commit-marker bytes, and (of its [[elided]]
    * form) an index entry. Keys keep one fixed order — optional fields
    * only when set, map-valued stats sorted by column — and `commitId`
    * first, so every writer of a manifest produces identical bytes.
    */
  def toJson(m: TableManifest): String = render(write(_, m))

  private def render(body: JsonGenerator => Unit): String = {
    val out = new java.io.StringWriter()
    val g = Json.getFactory.createGenerator(out)
    body(g)
    g.close()
    out.toString
  }

  private def write(g: JsonGenerator, m: TableManifest): Unit = {
    def strings(xs: Iterable[String]): Unit = {
      g.writeStartArray(); xs.foreach(g.writeString); g.writeEndArray()
    }
    def pair(r: (String, String)): Unit = strings(Seq(r._1, r._2))
    def sorted[T](field: String, kv: Map[String, T])(v: T => Unit): Unit = {
      g.writeObjectFieldStart(field)
      kv.toSeq.sortBy(_._1).foreach { case (k, x) => g.writeFieldName(k); v(x) }
      g.writeEndObject()
    }
    g.writeStartObject()
    if (m.commitId.nonEmpty) g.writeStringField("commitId", m.commitId)
    if (m.commitParts > 0) g.writeNumberField("commitParts", m.commitParts)
    g.writeNumberField("part", m.part)
    g.writeStringField("name", m.name)
    g.writeNumberField("rows", m.rows)
    g.writeNumberField("chunks", m.chunks)
    g.writeNumberField("rawBytes", m.rawBytes)
    g.writeNumberField("encodedBytes", m.encodedBytes)
    g.writeStringField("digest", m.digest)
    g.writeArrayFieldStart("schema")
    m.schemaCols.foreach { case (n, k) =>
      g.writeStartObject()
      g.writeStringField("name", n)
      g.writeNumberField("kind", k)
      g.writeEndObject()
    }
    g.writeEndArray()
    g.writeStringField("digestCol", m.digestCol)
    if (m.ancestors.nonEmpty) { g.writeFieldName("ancestors"); strings(m.ancestors) }
    if (m.partitioning.nonEmpty) { g.writeFieldName("partitioning"); strings(m.partitioning) }
    if (m.bucketIds.nonEmpty) sorted("bucketIds", m.bucketIds) { ids =>
      g.writeStartArray(); ids.toSeq.sorted.foreach(g.writeNumber(_)); g.writeEndArray()
    }
    if (m.schemaMarker) g.writeBooleanField("schemaMarker", true)
    g.writeArrayFieldStart("columns")
    m.columns.foreach { c =>
      g.writeStartObject()
      g.writeStringField("column", c.column)
      g.writeStringField("codec", c.codec)
      g.writeNumberField("rawBytes", c.rawBytes)
      g.writeNumberField("encodedBytes", c.encodedBytes)
      g.writeNumberField("minVal", c.minVal)
      g.writeNumberField("maxVal", c.maxVal)
      g.writeBooleanField("hasRange", c.hasRange)
      g.writeEndObject()
    }
    g.writeEndArray()
    if (m.chunksElided) {
      g.writeBooleanField("chunksElided", true)
      g.writeObjectFieldStart("envelope")
      sorted("strRanges", m.env.strRanges)(pair)
      sorted("strDicts", m.env.strDicts)(strings)
      sorted("nullCounts", m.env.nullCounts)(g.writeNumber(_))
      g.writeEndObject()
    } else {
      g.writeArrayFieldStart("chunkIndex")
      m.chunkIndex.foreach { c =>
        g.writeStartObject()
        g.writeNumberField("offset", c.offset)
        g.writeNumberField("length", c.length)
        g.writeNumberField("rows", c.rows)
        sorted("longRanges", c.longRanges) { r =>
          g.writeStartArray(); g.writeNumber(r._1); g.writeNumber(r._2); g.writeEndArray()
        }
        sorted("strDicts", c.strDicts)(strings)
        sorted("strRanges", c.strRanges)(pair)
        sorted("blockCrcs", c.blockCrcs)(g.writeNumber(_))
        // omitted entirely for non-nullable schemas; nullable columns
        // always carry an entry, explicit zeros included (see ChunkStats)
        if (c.nullCounts.nonEmpty) sorted("nullCounts", c.nullCounts)(g.writeNumber(_))
        g.writeEndObject()
      }
      g.writeEndArray()
    }
    g.writeEndObject()
  }

  /** A manifest's index-entry form (two-level metadata, round 8): the
    * per-chunk stats replaced by `chunksElided` plus the container-level
    * [[ManifestEnvelope]]. The full detail stays in the container's own
    * commit marker, which planning reads lazily for admitted containers
    * only. Idempotent; a manifest without chunks (a zero-row container,
    * a schema marker) has nothing to elide and is returned as it is.
    */
  private[engine] def elided(m: TableManifest): TableManifest =
    if (m.chunkIndex.isEmpty) m
    else m.copy(chunkIndex = Nil, chunksElided = true,
      storedEnvelope = Some(ManifestEnvelope.fromChunks(m.chunkIndex)))

  /** Parse one manifest JSON — the one place every read path (index,
    * listing, hydration) turns manifest bytes into a [[TableManifest]].
    * A manifest must carry what every current writer records: a
    * non-empty `name`, a non-empty `schema`, a `digestCol`, and, when
    * `rows > 0`, a chunk index (inline `chunkIndex`, or `chunksElided`
    * in an index entry); the error names the manifest and the missing
    * field. Any malformation — parser errors AND structurally-wrong-but-
    * valid JSON (an NPE from a mutated field) — surfaces as
    * IllegalArgumentException: this runs inside Spark planning/analysis,
    * where a raw exception becomes an opaque internal error (fuzz
    * contract).
    */
  def parse(json: String): TableManifest = controlled(manifestOf(Json.readTree(json)))

  private def controlled(read: => TableManifest): TableManifest =
    try read
    catch {
      case e: IllegalArgumentException => throw e
      case scala.util.control.NonFatal(e) =>
        throw new IllegalArgumentException(s"corrupt manifest JSON", e)
    }

  private def jLong(n: JsonNode, f: String): Long = {
    val v = n.get(f); if (v == null) 0L else v.asLong(0L)
  }
  private def jText(n: JsonNode, f: String): String =
    Option(n.get(f)).map(_.asText()).getOrElse("")
  private def jBool(n: JsonNode, f: String): Boolean =
    Option(n.get(f)).exists(_.asBoolean(false))
  private def elems(n: JsonNode): Seq[JsonNode] =
    if (n == null || !n.isArray) Nil else n.elements().asScala.toSeq
  private def texts(n: JsonNode): Seq[String] = elems(n).map(_.asText())
  private def fields[T](n: JsonNode)(v: JsonNode => T): Map[String, T] =
    if (n == null || !n.isObject) Map.empty
    else n.properties().asScala.iterator.map(e => e.getKey -> v(e.getValue)).toMap
  private def strPair(n: JsonNode): (String, String) = (n.get(0).asText(), n.get(1).asText())

  private def chunkOf(n: JsonNode): ChunkStats =
    ChunkStats(jLong(n, "offset"), jLong(n, "length"), jLong(n, "rows").toInt,
      fields(n.get("longRanges"))(r => (r.get(0).asLong(), r.get(1).asLong())),
      fields(n.get("strDicts"))(texts), fields(n.get("strRanges"))(strPair),
      fields(n.get("blockCrcs"))(_.asLong()), fields(n.get("nullCounts"))(_.asInt()))

  private def manifestOf(root: JsonNode): TableManifest = {
    val name = jText(root, "name")
    def need(ok: Boolean, field: String): Unit = require(ok,
      s"manifest ${if (name.nonEmpty) name else s"part ${jLong(root, "part")}"} " +
        s"lacks required field \"$field\"")
    need(name.nonEmpty, "name")
    val schema = root.get("schema")
    need(schema != null && schema.isArray && !schema.isEmpty, "schema")
    val schemaCols = elems(schema).map { c =>
      val n = c.get("name")
      val k = c.get("kind")
      require(n != null && k != null && k.canConvertToInt,
        s"corrupt manifest schema entry: $c")
      (n.asText(), k.asInt())
    }
    val digestCol = root.get("digestCol")
    need(digestCol != null, "digestCol")
    val chunkIndex = elems(root.get("chunkIndex")).map(chunkOf)
    val elided = jBool(root, "chunksElided")
    val rows = jLong(root, "rows")
    need(rows <= 0 || chunkIndex.nonEmpty || elided, "chunkIndex")
    TableManifest(name, jLong(root, "part").toInt, rows,
      jLong(root, "chunks").toInt, jLong(root, "rawBytes"),
      jLong(root, "encodedBytes"), jText(root, "digest"),
      schemaCols, digestCol.asText(),
      columns = elems(root.get("columns")).map(c => ColumnMetric(
        c.get("column").asText(), jText(c, "codec"), jLong(c, "rawBytes"),
        jLong(c, "encodedBytes"), jLong(c, "minVal"), jLong(c, "maxVal"),
        jBool(c, "hasRange"))),
      chunkIndex = chunkIndex,
      ancestors = texts(root.get("ancestors")),
      partitioning = texts(root.get("partitioning")),
      bucketIds = fields(root.get("bucketIds"))(elems(_).map(_.asInt()).toSet),
      schemaMarker = jBool(root, "schemaMarker"),
      commitId = jText(root, "commitId"),
      commitParts = jLong(root, "commitParts").toInt,
      chunksElided = elided,
      storedEnvelope = Option(root.get("envelope")).filter(_.isObject).map(e =>
        ManifestEnvelope(fields(e.get("strRanges"))(strPair),
          fields(e.get("strDicts"))(texts), fields(e.get("nullCounts"))(_.asLong()))))
  }

  /** An index snapshot body: `{"version":1,"manifests":[...]}` over the
    * [[elided]] form of each manifest.
    */
  private def indexBody(ms: Seq[TableManifest]): Array[Byte] =
    render { g =>
      g.writeStartObject()
      g.writeNumberField("version", 1)
      g.writeArrayFieldStart("manifests")
      ms.foreach(m => write(g, elided(m)))
      g.writeEndArray()
      g.writeEndObject()
    }.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** The manifests of one index snapshot body, parsed once. Anything but
    * the shape [[indexBody]] writes — an object with `"version":1` and a
    * `manifests` array — is corrupt, and so is unparseable JSON: both
    * fail CONTROLLED (the fuzz contract). Reading such an index as empty
    * would let the next commit publish that emptiness over the table.
    */
  private def parseIndex(bytes: Array[Byte], where: String): Seq[TableManifest] = {
    indexReadCounter.incrementAndGet()
    val root =
      try Json.readTree(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
      catch {
        case e: com.fasterxml.jackson.core.JacksonException =>
          throw new IllegalArgumentException(s"corrupt manifest index $where", e)
      }
    val version = root.get("version")
    val arr = root.get("manifests")
    require(root.isObject && version != null && version.isInt &&
        version.asInt() == 1 && arr != null && arr.isArray,
      s"corrupt manifest index $where: expected {\"version\":1,\"manifests\":[...]}")
    elems(arr).map(e => controlled(manifestOf(e)))
  }

  // --------------------------------------------------------------- write

  /** Publish one manifest (the partition's commit marker) atomically. */
  def writeManifest(conf: Configuration, tableDir: String, m: TableManifest): Unit =
    ContainerIO.writeAtomic(conf,
      s"$tableDir/manifests/.tmp-part-${m.name}",
      manifestPath(tableDir, m.name),
      toJson(m).getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private val VersionedIndexRe = """_manifest-index\.v(\d+)\.json""".r

  private[engine] def versionedIndexes(conf: Configuration,
                                       tableDir: String): Seq[(Long, String)] =
    ContainerIO.listNames(conf, tableDir).collect {
      case n @ VersionedIndexRe(v) => (v.toLong, n)
    }.sortBy(_._1)

  /** Hydrate an index-elided manifest's per-chunk stats from its own
    * commit marker file. A marker that vanished means a concurrent
    * compaction/overwrite superseded the snapshot this plan was built
    * on: surface the controlled retriable error, never a raw
    * FileNotFoundException. No-op for manifests already carrying their
    * chunk index. A marker that is itself elided has no detail to give
    * and is rejected, so a corrupt marker never plans as zero chunks.
    */
  def loadChunkIndex(conf: Configuration, tableDir: String,
                     m: TableManifest): TableManifest =
    if (!m.chunksElided) m
    else {
      chunkLoadCounter.incrementAndGet()
      val p = manifestPath(tableDir, m.name)
      val full =
        try parse(new String(ContainerIO.readAll(conf, p),
          java.nio.charset.StandardCharsets.UTF_8))
        catch {
          case e: java.io.FileNotFoundException =>
            throw new IllegalStateException(
              s"graft snapshot superseded: manifest $p was removed by a " +
                "concurrent compaction/overwrite since planning; retry " +
                "the query", e)
        }
      require(!full.chunksElided,
        s"manifest ${m.name} lacks required field \"chunkIndex\" in its marker $p")
      m.copy(chunkIndex = full.chunkIndex, chunksElided = false,
        storedEnvelope = None)
    }

  /** Observability seam: per-process count of manifest-marker hydration
    * reads — the planning test proving group-level skip asserts bytes
    * read scale with ADMITTED containers, not table size.
    */
  val chunkLoadCounter = new java.util.concurrent.atomic.AtomicLong()

  /** Observability seam: per-process count of manifest-index parses
    * (every committed-snapshot read, time-travel read, commit attempt
    * and retained-snapshot scan parses one index body) — the planning
    * and commit tests assert how many times one query, write or
    * maintenance call parses the index.
    */
  val indexReadCounter = new java.util.concurrent.atomic.AtomicLong()

  /** Highest LIVE committed index snapshot: (version, manifests).
    * Superseded versions are TOMBSTONED (truncated to zero bytes, see
    * [[commitIndex]]) — a tombstone at the top of a stale listing, a
    * vanished file, or a mid-truncation read all retry against a fresh
    * listing. `None` means no versioned index exists and callers fall
    * back to listing `manifests/`; a corrupt index fails controlled.
    */
  def readIndexSnapshot(conf: Configuration,
                        tableDir: String): Option[(Long, Seq[TableManifest])] = {
    // generous retry budget: under heavy commit contention a reader's
    // stale listing can lose the open-vs-GC race several times in a row
    var tries = 0
    while (tries < 64) {
      val (v, name) = versionedIndexes(conf, tableDir).lastOption
        .getOrElse(return None)
      try {
        val bytes = ContainerIO.readAll(conf, s"$tableDir/$name")
        // empty = we raced a commit that just tombstoned this
        // version (max moved past it between our listing and read)
        if (bytes.nonEmpty)
          return Some((v, parseIndex(bytes, s"$tableDir/$name")))
        tries += 1
      } catch {
        case _: java.io.FileNotFoundException => tries += 1
        // status said non-empty but the read hit the truncation: a
        // concurrent tombstone landed mid-read — retry fresh
        case _: java.io.EOFException => tries += 1
      }
    }
    throw new java.io.IOException(
      s"manifest index for $tableDir kept vanishing mid-read")
  }

  /** How many superseded TOMBSTONED version claims stay behind the
    * current snapshot before their 0-byte files are finally deleted.
    * A tombstone pins its version number so no commit can ever re-claim
    * it; deleting one is safe only once no committer could still be
    * inside a read-snapshot→create window that old — 1024 full commit
    * cycles inside one such window is the documented impossibility
    * envelope.
    */
  final val TombstoneRetention = 1024L

  /** How many superseded index versions keep their CONTENT (not just
    * their tombstoned number): the snapshot time-travel window. A
    * `versionAsOf` read inside the window sees exactly the table that
    * version committed; older versions fail with the controlled
    * "not retained" error. Retained snapshots also extend vacuum's
    * referenced set, so blocks only they reference survive the sweep.
    * Time travel is GUARANTEED across appends; a generation that a
    * later overwrite / epoch replay / compaction replaced is reclaimed
    * eagerly by that commit (Iceberg-expire-now semantics), and a
    * retained snapshot referencing it fails retriable-loud at read.
    */
  final val SnapshotRetention = 8L

  /** The rolling retention actually applied at commit time: the
    * `graft.snapshot.retention` configuration key (settable per session
    * via `spark.hadoop.graft.snapshot.retention`, or per table by the
    * caller's Configuration) overrides the [[SnapshotRetention]] default.
    * For one-off reclamation beyond the rolling policy — the Iceberg
    * `expire_snapshots` shape — see [[expireSnapshots]] /
    * `CALL graft.system.expire_snapshots`.
    */
  def snapshotRetention(conf: Configuration): Long =
    math.max(0L, conf.getLong("graft.snapshot.retention", SnapshotRetention))

  /** Expire retained time-travel snapshots NOW (round 9): truncate the
    * content of superseded index versions beyond `retainLast` (the tip
    * counts as one of the retained), optionally only those older than
    * `olderThanMs`. An expired version keeps its tombstoned file (the
    * number stays pinned — see [[commitIndex]]) but reads of it fail
    * with the controlled "no longer retained" error, and [[vacuum]]'s
    * referenced set stops protecting the blocks only it referenced —
    * the delete-purge path: `delete` → `expire_snapshots` → `vacuum`
    * removes deleted rows from storage.
    *
    * Returns the number of versions expired.
    */
  def expireSnapshots(conf: Configuration, tableDir: String,
                      retainLast: Long,
                      olderThanMs: Long = 0L): Int = {
    require(retainLast >= 1,
      s"retain_last must be >= 1 (the current snapshot is never expired): " +
        s"$retainLast")
    require(olderThanMs >= 0, s"older_than_ms must be >= 0: $olderThanMs")
    val f = ContainerIO.fs(tableDir, conf)
    val now = System.currentTimeMillis()
    // rank content-bearing versions, newest first; the newest retainLast
    // stay (the tip is by construction among them)
    val withContent = versionedIndexes(conf, tableDir).flatMap { case (v, n) =>
      val p = new org.apache.hadoop.fs.Path(s"$tableDir/$n")
      try {
        val st = f.getFileStatus(p)
        if (st.getLen > 0) Some((v, p, st.getModificationTime)) else None
      } catch { case _: java.io.FileNotFoundException => None }
    }.sortBy(-_._1)
    var expired = 0
    withContent.drop(retainLast.toInt).foreach { case (_, p, mtime) =>
      if (mtime <= now - olderThanMs) {
        // truncate, never delete: the version number stays pinned
        try { f.create(p, true).close(); expired += 1 }
        catch { case _: java.io.IOException => () }
      }
    }
    expired
  }

  /** Optimistic-concurrency commit of a new index snapshot (the Iceberg
    * shape): read the current snapshot, apply `transform`, and publish it
    * as `_manifest-index.v<current + 1>.json` via an ATOMIC
    * create-if-absent ([[ContainerIO.createExclusive]]). A concurrent
    * commit that claimed the same version makes the create fail, and this
    * commit re-reads and retries on top of the winner — so two
    * simultaneous appends (or a streaming-sink epoch racing a batch
    * append) both land; round 4's read-modify-write could silently drop
    * the loser's manifests from the index.
    *
    * Superseded versions are TOMBSTONED (truncated to 0 bytes), never
    * deleted outright: a deleted version FREES its number, and a
    * committer whose read-snapshot→create window straddled enough
    * concurrent commits could then re-claim a number BELOW the current
    * maximum — its "successful" create would be invisible to every
    * reader (a silent lost update; caught by the contention test before
    * tombstoning existed). With every claimed number pinned forever, a
    * successful create always extends the true tip. Ancient tombstones
    * (> [[TombstoneRetention]] versions behind) are finally deleted.
    *
    * Returns the superseded snapshot's manifests (what the winning
    * `transform` call saw), so callers can delete generations their
    * commit replaced. Once a claim has landed the commit has succeeded:
    * nothing after it (the lost-claim listing, tombstoning) is raised.
    * Table changes commit through `GraftCommits.commit`, its one
    * production caller.
    */
  def commitIndex(conf: Configuration, tableDir: String,
                  transform: Seq[TableManifest] => Seq[TableManifest],
                  base: Option[(Long, Seq[TableManifest])] = None): Seq[TableManifest] = {
    var attempts = 0
    // the first attempt builds on `base` (the caller's own
    // [[readCommittedVersion]]) when given; only a lost claim re-reads
    var snapshot = base
    while (attempts < 64) {
      val (ver, cur) = snapshot.getOrElse(readCommittedVersion(conf, tableDir))
      snapshot = None
      val next = ver + 1
      beforeClaimHook()
      if (ContainerIO.createExclusive(conf,
          s"$tableDir/${versionedIndexName(next)}", indexBody(transform(cur)))) {
        val f = ContainerIO.fs(tableDir, conf)
        // LOST-CLAIM guard: tombstone GC frees version numbers more than
        // TombstoneRetention behind the tip, so a committer whose
        // read-snapshot→create window straddled that many commits can
        // "successfully" create a version BELOW the live maximum — a
        // snapshot no reader will ever take. Detect it: legitimately,
        // versions above ours can only be committed by writers that read
        // OUR snapshot, so the tip can only be ~attempts ahead of us;
        // a tip a full retention window ahead proves our number was
        // recycled. Withdraw the claim and retry on the true tip instead
        // of silently losing the update. A listing that fails proves
        // nothing: the claim stands.
        val listed =
          try versionedIndexes(conf, tableDir) // includes our claim
          catch {
            case scala.util.control.NonFatal(e) =>
              log.warn(s"graft index commit v$next on $tableDir: versions " +
                "not listed after the claim", e)
              Nil
          }
        val maxAfter = (next +: listed.map(_._1)).max
        if (maxAfter >= next + TombstoneRetention) {
          f.delete(new org.apache.hadoop.fs.Path(
            s"$tableDir/${versionedIndexName(next)}"), false)
        } else {
          // the claim has landed: the commit has succeeded, and a failed
          // tombstone step is logged, never raised (the next commits'
          // passes overlap its window)
          val retention = snapshotRetention(conf)
          try listed.foreach { case (v, n) =>
            val p = new org.apache.hadoop.fs.Path(s"$tableDir/$n")
            if (v < ver - TombstoneRetention) f.delete(p, false)
            else if (v < ver - retention &&
                v >= ver - retention - 8) {
              // tombstone: pin the claim, drop the payload. The EXISTENCE
              // of the file is what blocks number re-claim — truncation
              // only reclaims space, so the recent window suffices
              // (anything older was tombstoned by an earlier commit, and
              // a crash-skipped live straggler still pins its number).
              // Concurrent readers of a just-truncated version retry.
              // Versions inside [[SnapshotRetention]] keep their CONTENT:
              // they are the time-travel surface (`versionAsOf`) and
              // vacuum's retained reference sets (round 8).
              try f.create(p, true).close()
              catch { case _: java.io.IOException => () }
            }
          } catch {
            case scala.util.control.NonFatal(e) =>
              log.warn(s"graft index commit v$next on $tableDir: superseded " +
                "versions not tombstoned", e)
          }
          return cur
        }
      }
      attempts += 1
    }
    throw new java.io.IOException(
      s"manifest index commit for $tableDir contended $attempts times")
  }

  /** Test seam: runs between the snapshot read and the version claim —
    * the window a concurrent commit races into, and the one the
    * tombstone-retention envelope protects. Tests arm it for one firing
    * to race any table change. Production value is a no-op.
    */
  private[graft] var beforeClaimHook: () => Unit = () => ()

  def versionedIndexName(version: Long): String =
    s"_manifest-index.v$version.json"

  // ---------------------------------------------------------------- read

  private def listManifestNames(conf: Configuration, tableDir: String): Seq[String] =
    ContainerIO.listNames(conf, s"$tableDir/manifests")
      .filter(n => n.startsWith("part-") && n.endsWith(".json"))

  /** The manifests of a `manifests/` listing (tables without an index:
    * disaster-recovery reads), unnormalized.
    */
  private[engine] def listedManifests(conf: Configuration,
                                      tableDir: String): Seq[TableManifest] =
    listManifestNames(conf, tableDir).sorted.map { n =>
      parse(new String(ContainerIO.readAll(conf, s"$tableDir/manifests/$n"),
        java.nio.charset.StandardCharsets.UTF_8))
    }

  /** Every COMMITTED partition of the table: one index read when an
    * index snapshot exists (highest version wins), else a `manifests/`
    * listing + per-file reads (disaster recovery).
    */
  def readCommitted(conf: Configuration, tableDir: String): Seq[TableManifest] =
    readCommittedVersion(conf, tableDir)._2

  /** [[readCommitted]] with the index version it read: -1 when the
    * table has no index yet (the `manifests/` listing answered). A
    * commit passes both to [[commitIndex]] as its first snapshot.
    */
  def readCommittedVersion(conf: Configuration,
                           tableDir: String): (Long, Seq[TableManifest]) =
    readIndexSnapshot(conf, tableDir).getOrElse(
      (-1L, normalizeFallback(listedManifests(conf, tableDir))))

  // -------------------------------------------------------- time travel

  /** The manifests of one SPECIFIC retained index version (snapshot time
    * travel, round 8). A version whose content was truncated (past
    * [[SnapshotRetention]]) or never claimed fails with the controlled
    * IllegalArgumentException — this runs inside Spark planning.
    */
  def readCommittedAt(conf: Configuration, tableDir: String,
                      version: Long): Seq[TableManifest] = {
    val name = versionedIndexName(version)
    val available = versionedIndexes(conf, tableDir)
    if (!available.exists(_._1 == version))
      throw new IllegalArgumentException(
        s"graft table $tableDir has no snapshot version $version; " +
          s"available: ${available.map(_._1).mkString(", ")}")
    val bytes =
      try ContainerIO.readAll(conf, s"$tableDir/$name")
      catch {
        case _: java.io.FileNotFoundException => Array.empty[Byte]
      }
    if (bytes.isEmpty) throw new IllegalArgumentException(
      s"graft snapshot version $version of $tableDir is no longer " +
        s"retained (the table keeps the last ${snapshotRetention(conf)} " +
        "superseded versions; expired earlier if " +
        "graft.system.expire_snapshots ran)")
    parseIndex(bytes, s"$tableDir/$name")
  }

  /** Highest snapshot version committed at or before `tsMillis` (the
    * `timestampAsOf` surface), by index-file modification time — the
    * commit instant up to filesystem clock skew.
    */
  def versionAt(conf: Configuration, tableDir: String, tsMillis: Long): Long = {
    val fs = ContainerIO.fs(tableDir, conf)
    val candidates = versionedIndexes(conf, tableDir).flatMap { case (v, n) =>
      try {
        val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$tableDir/$n"))
        // tombstoned (0-byte) versions have no snapshot to read
        if (st.getLen > 0 && st.getModificationTime <= tsMillis) Some(v)
        else None
      } catch { case _: java.io.FileNotFoundException => None }
    }
    candidates.maxOption.getOrElse(throw new IllegalArgumentException(
      s"graft table $tableDir has no retained snapshot at or before " +
        s"timestamp $tsMillis"))
  }

  /** Names referenced by any retained index version other than
    * `except` (the version the caller already read): vacuum's reference
    * set, so a block only a retained time-travel snapshot still needs
    * survives the sweep. An unreadable or corrupt snapshot body
    * references nothing.
    */
  def retainedSnapshotNames(conf: Configuration, tableDir: String,
                            except: Long): Set[String] =
    versionedIndexes(conf, tableDir).iterator.filter(_._1 != except).flatMap { case (_, n) =>
      val ms =
        try {
          val bytes = ContainerIO.readAll(conf, s"$tableDir/$n")
          if (bytes.isEmpty) Nil else parseIndex(bytes, s"$tableDir/$n")
        } catch {
          case _: java.io.FileNotFoundException => Nil
          case _: IllegalArgumentException => Nil
        }
      ms.map(_.name)
    }.toSet

  def crc32c(bytes: Array[Byte], off: Int, len: Int): Long = {
    val c = new java.util.zip.CRC32C
    c.update(bytes, off, len)
    c.getValue
  }
  def crc32c(bytes: Array[Byte]): Long = crc32c(bytes, 0, bytes.length)
}
