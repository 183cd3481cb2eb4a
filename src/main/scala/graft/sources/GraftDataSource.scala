package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expression, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.engine.{ChunkCursor, ChunkStats, ColumnarEngine, ColumnSpec, ContainerIO, DecodedChunk, Kinds, Lane, Manifests, Stored, TableManifest}
import graft.engine.ContainerIO.ShippedConf

/** `spark.read.format("graft")` / `df.write.format("graft")` — the
  * engine's container+manifest layout as a DataSource V2 table.
  *
  * Read side: input partitions are CHUNK ranges (the parquet row-group
  * shape) planned from the manifest index — one giant container
  * parallelizes across tasks, and zone-map skipping works at chunk
  * granularity. Pruning and filtering are pushed three ways:
  * non-selected column blocks are a position advance (never read off
  * storage, never decoded); comparison filters on the integer columns and
  * equality/IN filters on the string columns prune chunks against
  * per-chunk zone maps / dictionaries, then are re-checked row-level
  * during decode. The reader STREAMS blocks (`ContainerInput`) — it never
  * materializes a container, so task memory is bounded by one chunk
  * regardless of container size. Decoded blocks are CRC32C-verified
  * against the manifest; reads that select `content` additionally verify
  * the per-chunk content sha256 digest.
  *
  * Write side: each task streams rows through the engine's
  * [[graft.engine.ColumnarEngine.PartitionEncoder]] (chunk-bounded
  * memory) into an EPOCH-qualified container (`part-<queryId>-<task>`),
  * so appends never collide; manifests — the commit markers — are
  * published only at JOB commit together with the rewritten manifest
  * index, so a failed or killed job never exposes a partial table and an
  * overwrite destroys the old data only after the new table is live.
  *
  * Schema: any mix of the kinds `specsOf` accepts (BIGINT, INT, STRING,
  * TIMESTAMP_NTZ, DATE, DOUBLE, FLOAT, BINARY, ARRAY<FLOAT>,
  * DECIMAL(<=18), BOOLEAN), each independently nullable. A first write
  * defines the table's schema; reads infer it from the committed
  * manifests (the widest, under the add-only-evolution prefix rule);
  * appends must match it or extend it with trailing nullable columns.
  * The engine's own source-code shape ([[graft.engine.DerivedRow]]) is
  * simply the default for tables that don't exist yet.
  */
class GraftDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft"

  /** Table schema from the committed manifests ([[TableSnapshot.schema]]);
    * the engine's fixed [[graft.engine.DerivedRow]] schema only as the
    * default for empty/absent tables.
    */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Option(options.get("path"))
      .map { p =>
        val conf = SparkSession.active.sparkContext.hadoopConfiguration
        // a time-traveled read infers the PINNED snapshot's schema — an
        // older snapshot may predate added columns (add-only evolution)
        val snap = new TableSnapshot(p, conf,
          GraftDataSource.asOfVersion(options, conf, p))
        if (snap.exists) snap.schema else GraftDataSource.schema
      }
      .getOrElse(GraftDataSource.schema)

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("graft source requires a path"))
    new GraftTable(path, schema)
  }

  override def supportsExternalMetadata(): Boolean = true
}

object GraftDataSource {
  /** The engine's table schema ([[graft.engine.DerivedRow]] field order) — the
    * default for tables that don't exist yet.
    */
  val schema: StructType = schemaOf(ColumnarEngine.DefaultSchema)

  private[sources] def schemaOf(specs: Seq[graft.engine.ColumnSpec]): StructType =
    StructType(specs.map(s => StructField(s.name, s.dataType, nullable = s.nullable)))

  /** Validate + translate a Spark write/table schema into column specs
    * ([[Kinds.specOf]]); rejects anything the container format can't
    * hold. Field nullability is recorded per column.
    */
  private[sources] def specsOf(st: StructType): Seq[graft.engine.ColumnSpec] = {
    require(st.fields.nonEmpty, "graft table needs at least one column")
    st.fields.toSeq.map(Kinds.specOf)
  }

  /** Snapshot pin from read options (time travel, round 8):
    * `versionAsOf` = an explicit retained index version;
    * `timestampAsOf` = epoch millis or `java.sql.Timestamp` syntax,
    * resolved to the highest version committed at or before it.
    */
  private[sources] def asOfVersion(options: CaseInsensitiveStringMap,
      conf: Configuration, path: String): Option[Long] = {
    val v = Option(options.get("versionAsOf")).map { s =>
      try s.toLong
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"versionAsOf must be a snapshot version number, got '$s'") }
    }
    val ts = Option(options.get("timestampAsOf")).map { s =>
      try s.toLong
      catch { case _: NumberFormatException =>
        try java.sql.Timestamp.valueOf(s).getTime
        catch { case _: IllegalArgumentException =>
          throw new IllegalArgumentException(
            s"timestampAsOf must be epoch millis or " +
              s"'yyyy-mm-dd hh:mm:ss[.f...]', got '$s'") } }
    }
    require(v.isEmpty || ts.isEmpty,
      "specify either versionAsOf or timestampAsOf, not both")
    v.orElse(ts.map(Manifests.versionAt(conf, path, _)))
  }

  /** Per-manifest column specs: the container's own recorded schema. */
  private[sources] def specsOfManifest(
      m: TableManifest): Seq[graft.engine.ColumnSpec] =
    m.schemaCols.map { case (n, k) => graft.engine.ColumnSpec.fromPacked(n, k) }

  /** The table's CURRENT schema from a committed-manifest snapshot
    * (round 8, rename support). Field IDENTITY is positional — sound
    * under the add-only invariant (no drops/reorders ever commit) —
    * so a position's kind/nullability/type parameters must be UNIFORM
    * across every manifest covering it, while its NAME is a label:
    * the manifest with the highest commitId covering the position
    * names it (a rename commits a zero-row schema MARKER through the
    * ordinary OCC path; older containers keep their historical labels
    * and readers translate per container).
    */
  private[sources] def currentSpecsOf(
      ms: Seq[TableManifest]): Seq[graft.engine.ColumnSpec] = {
    val perManifest = ms.map(m =>
      (m.name, m.commitId, specsOfManifest(m), m.ancestors.nonEmpty))
    val widest = perManifest.map(_._3.size).max
    (0 until widest).map { i =>
      val covering = perManifest.filter(_._3.size > i)
      // shape (everything but the label and the dropped bit) must agree
      // at each position
      val shapes = covering.map { c =>
        val s = c._3(i); (s.kind, s.nullable, s.precision, s.scale)
      }.distinct
      require(shapes.size == 1,
        s"graft table has inconsistent committed schemas at column " +
          s"position $i: ${covering.map(c => s"${c._1}:${c._3(i)}")
            .mkString("; ")} (appends may only add trailing nullable " +
          "columns; only names may change, via renameColumn)")
      // labels (and the dropped bit, round 9 — a drop is label-like
      // metadata) resolve from PLAIN manifests (appends + rename/drop
      // markers) when any covers the position: a compacted generation
      // carries its FOLDED sources' historical labels under a fresh high
      // commitId, and must not revert a rename/drop it didn't witness
      val labelSources = {
        val plain = covering.filterNot(_._4)
        if (plain.nonEmpty) plain else covering
      }
      val latest = labelSources.maxBy(_._2)._3(i)
      covering.head._3(i).copy(name = latest.name, dropped = latest.dropped)
    }
  }

  /** The table's column layout: name -> [[graft.engine.ColumnSpec]]
    * (kind, nullability, decimal scale). Pushdown, readers and rewrites
    * address decoded data through it; a column's decoded lane is its
    * kind's ([[graft.engine.Kind.lane]]).
    */
  private[sources] def layoutOf(st: StructType): Map[String, ColumnSpec] =
    specsOf(st).map(s => s.name -> s).toMap

  /** The one boundary of pushdown: a Spark filter becomes `Some((shown,
    * pred))` when this source fully enforces it (chunk skip plus the
    * reader's row check), None when it stays in Spark. `pred` is the
    * stored-domain test every later stage consumes; `shown` is the filter
    * with stored-domain constants, as `pushedFilters()` and EXPLAIN print.
    *
    * Each constant maps through its column kind's
    * [[graft.engine.Kind.storedRange]] (the stored values SQL calls equal
    * to it): an equality becomes that one value, or an IN over the two of
    * FLOAT ±0.0; a range bound takes the side that keeps SQL semantics
    * (the DECIMAL grid's floor/ceil), and only on ordered kinds; IN drops
    * members no stored value equals. Then IS [NOT] NULL pushes on every
    * column, and =, IN and ranges push when their constants are lane
    * values (a long, an int, a non-NaN double), = and IN on strings.
    * String ranges stay in Spark (collation-safe range proofs hold only
    * for the ASCII-recorded stats), as do NaN constants (Spark orders NaN
    * above everything, unlike IEEE and the sortable mapping's tail) and
    * constants that do not translate (an unrepresentable equality, one
    * beyond long range).
    */
  private[sources] def pushdown(f: Filter,
      layout: Map[String, ColumnSpec]): Option[(Filter, Pred)] =
    f.references match {
      case Array(c) if layout.contains(c) =>
        val s = layout(c)
        val k = Kinds(s.kind)
        def range(x: Any) = k.storedRange(x, s)
        // a constant's stored points: at most two adjacent values
        def points(r: (Long, Long)): Array[Any] =
          if (r._1 == r._2) Array(k.box(r._1))
          else if (r._1 < r._2) Array(k.box(r._1), k.box(r._2))
          else Array.empty
        // a range bound's stored side, on ordered kinds
        def side(x: Any, hi: Boolean): Any =
          if (!k.ordered) x else range(x).fold(x)(r => k.box(if (hi) r._2 else r._1))
        // a constant as a value of the column's lane, when it is one
        def longOf(x: Any): Option[Long] = (s.lane, x) match {
          case (Lane.Longs, v: java.lang.Long) => Some(v.longValue)
          case (Lane.Ints, v: java.lang.Integer) => Some(v.longValue)
          case _ => None
        }
        def doubleOf(x: Any): Option[Double] = (s.lane, x) match {
          case (Lane.Doubles, v: java.lang.Double) if !v.isNaN => Some(v.doubleValue)
          case _ => None
        }
        def stringOf(x: Any): Option[String] = (s.lane, x) match {
          case (Lane.Bytes, v: String) => Some(v)
          case _ => None
        }
        // `c op x`, shown with the constant it pushes
        def cmp(op: Pred.Cmp, x: Any, shown: Any => Filter): Option[(Filter, Pred)] =
          longOf(x).map(Pred.longCmp(c, op, _))
            .orElse(doubleOf(x).map(DoubleCmp(c, op, _)))
            .orElse(stringOf(x).filter(_ => op == Pred.Eq).map(v => BytesIn(c, Array(v))))
            .map(shown(x) -> _)
        def in(xs: Array[Any], shown: Filter): Option[(Filter, Pred)] = {
          def all[T: scala.reflect.ClassTag](of: Any => Option[T]): Option[Array[T]] = {
            val vs = xs.map(of)
            Option.when(vs.forall(_.isDefined))(vs.map(_.get))
          }
          all(longOf).map(LongIn(c, _))
            .orElse(all(doubleOf).map(DoubleIn(c, _)))
            .orElse(all(stringOf).map(BytesIn(c, _)))
            .map(shown -> _)
        }
        try f match {
          case IsNull(_) => Some((f, NullTest(c, isNull = true)))
          case IsNotNull(_) => Some((f, NullTest(c, isNull = false)))
          case EqualTo(_, x) => range(x).map(points) match {
            case Some(Array(v)) => cmp(Pred.Eq, v, EqualTo(c, _))
            case Some(vs) if vs.nonEmpty => in(vs, In(c, vs))
            case _ => cmp(Pred.Eq, x, _ => f)
          }
          case GreaterThan(_, x) => cmp(Pred.Gt, side(x, hi = true), GreaterThan(c, _))
          case GreaterThanOrEqual(_, x) => cmp(Pred.Ge, side(x, hi = false), GreaterThanOrEqual(c, _))
          case LessThan(_, x) => cmp(Pred.Lt, side(x, hi = false), LessThan(c, _))
          case LessThanOrEqual(_, x) => cmp(Pred.Le, side(x, hi = true), LessThanOrEqual(c, _))
          case In(_, xs) if xs.nonEmpty =>
            // a member beyond long range equals no stored value: dropping
            // it (an empty range) keeps IN exact
            val rs = xs.map { x =>
              try range(x) catch { case _: ArithmeticException => Some((1L, 0L)) }
            }
            val vs: Array[Any] =
              if (rs.forall(_.isDefined)) rs.flatMap(r => points(r.get)) else Array.empty
            if (vs.isEmpty) in(xs, f) else in(vs, In(c, vs))
          case _ => None
        } catch { case _: ArithmeticException => None } // out-of-long constant
      case _ => None
    }

  /** Default target split size (encoded bytes) when grouping admitted
    * chunks into input partitions.
    */
  final val DefaultMaxSplitBytes: Long = 128L << 20

  /** One declared write-partition transform (round 8):
    * `option("partitionBy", "lang, days(ts), bucket(8, repo)")`.
    * identity/days cluster+sort the write so the existing zone-map /
    * envelope machinery proves container-level skips; bucket(n, col)
    * additionally records each container's OBSERVED bucket-id set in
    * its manifest, which [[admitManifest]] uses to eliminate containers
    * for point/IN filters on the bucket column — the case hash
    * interleaving makes value zone maps useless for.
    */
  private[sources] sealed trait PartTransform {
    def col: String
    def render: String
  }
  private[sources] final case class IdentityT(col: String) extends PartTransform {
    def render = s"identity($col)"
  }
  private[sources] final case class DaysT(col: String) extends PartTransform {
    def render = s"days($col)"
  }
  private[sources] final case class BucketT(n: Int, col: String) extends PartTransform {
    def render = s"bucket($n,$col)"
  }

  private val BucketRe = """(?i)bucket\s*\(\s*(\d+)\s*,\s*([^\s()]+)\s*\)""".r
  private val DaysRe = """(?i)days\s*\(\s*([^\s()]+)\s*\)""".r

  private[sources] def parsePartitionBy(spec: String): Seq[PartTransform] =
    // split on commas OUTSIDE parentheses: "lang, bucket(8, repo)" is
    // two transforms, not three fragments
    spec.split(""",(?![^(]*\))""").map(_.trim).filter(_.nonEmpty).toSeq.map {
      case BucketRe(n, c) =>
        require(n.toInt >= 2, s"bucket($n, $c): need at least 2 buckets")
        BucketT(n.toInt, c)
      case DaysRe(c) => DaysT(c)
      case c =>
        require(!c.contains("(") && !c.contains(")"),
          s"unsupported partition transform '$c'; supported: identity " +
            "(bare column), days(col), bucket(n, col)")
        IdentityT(c)
    }

  /** Stable bucket id of a stored value — writer-side recording and
    * read-side admission must agree (pruning correctness needs nothing
    * else), and the function deliberately MIRRORS Spark's
    * HashPartitioning (Murmur3, seed 42, pmod): a bucket write with
    * `writePartitions` = n then routes each bucket to exactly one
    * writer task, so every container records a near-singleton id set —
    * maximal elimination. A different task count only widens the sets;
    * admission stays sound.
    */
  private[sources] def bucketIdOfLong(v: Long, n: Int): Int =
    pmodInt(org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(v, 42), n)
  private[sources] def bucketIdOfInt(v: Int, n: Int): Int =
    pmodInt(org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(v, 42), n)
  private[sources] def bucketIdOfString(v: String, n: Int): Int =
    bucketIdOfUtf8(UTF8String.fromString(v), n)
  private[sources] def bucketIdOfUtf8(u: UTF8String, n: Int): Int =
    pmodInt(org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
      u.getBaseObject, u.getBaseOffset, u.numBytes(), 42), n)
  @inline private def pmodInt(h: Int, n: Int): Int = ((h % n) + n) % n

  /** Can no zone map, string dict/range or null count proof rule this
    * chunk out? Unknown/absent stats admit (skip only on PROOF). String
    * ranges are recorded only for all-ASCII chunks, where Java,
    * UTF8String, and DuckDB collation agree. Null counts are recorded for
    * every nullable column (explicit zeros included), so `IS NOT NULL`
    * skips all-null chunks and `IS NULL` skips fully-present ones.
    */
  private[sources] def admitChunk(c: ChunkStats, preds: Seq[Pred]): Boolean =
    admit(c.longRanges, preds) && admitProofs(c.rows,
      c.nullCounts.get(_).map(_.toLong), c.strDicts, c.strRanges, preds)

  /** The null-count and string dict/range proofs, written once for both
    * granularities: a chunk's own stats ([[admitChunk]]) and a
    * container's envelope fold ([[admitManifest]]). `nullCount` answers
    * None for a column without a recorded count (admit).
    */
  private def admitProofs(rows: Long, nullCount: String => Option[Long],
                          strDicts: Map[String, Seq[String]],
                          strRanges: Map[String, (String, String)],
                          preds: Seq[Pred]): Boolean =
    preds.forall(p => p.mayHold(rows, nullCount(p.col), strDicts.get(p.col), strRanges.get(p.col)))

  /** Zone-map admission over one range map — a chunk's ([[admitChunk]])
    * or a whole container's ([[admitManifest]]). Int-lane columns record
    * their ranges in the same map; DOUBLE columns record ranges over
    * their order-preserving sortable-long mapping.
    */
  private[sources] def admit(ranges: Map[String, (Long, Long)],
                             preds: Seq[Pred]): Boolean =
    preds.forall(p => ranges.get(p.col).forall(r => p.overlaps(r._1, r._2)))

  /** Compiled row-level predicates over a decoded chunk: the reader
    * enforces exactly what pushFilters claimed. Per chunk each looks up
    * its column once and returns the per-row test ([[Pred.rows]]). SQL
    * null semantics: every value test on a NULL row is not-true (the
    * chunk's validity bitmap gates it); [[NullTest]] tests the bitmap
    * itself.
    */
  private[sources] def compileFilters(preds: Array[Pred])
      : Array[DecodedChunk => (Int => Boolean)] = preds.map { p =>
    val c = p.col
    val gated = !p.isInstanceOf[NullTest]
    ch => {
      val d = ch.col(c)
      val t = p.rows(d)
      if (!gated || d.nulls == null) t else j => d.validAt(j) && t(j)
    }
  }

  /** Container-level admission against the index SUMMARY (round 8,
    * two-level metadata): the manifest's whole-partition zone maps plus
    * the [[graft.engine.ManifestEnvelope]] fold of its chunk stats.
    * Same proof discipline as [[admitChunk]] — absent stats admit —
    * at group granularity, so a pruned container's per-chunk detail is
    * NEVER read off storage.
    */
  private[sources] def admitManifest(m: TableManifest,
                                     preds: Seq[Pred]): Boolean = {
    // bucket(n, col) transforms recorded by the writer: a point/IN
    // constant admits only containers whose observed bucket-id set can
    // hold it (n comes from the manifest's own partitioning record, so
    // mixed-n generations stay individually sound). Evaluated as an
    // independent conjunct so string constants ALSO keep their
    // dict/range proofs below.
    lazy val bucketN: Map[String, Int] =
      m.partitioning.flatMap {
        case BucketRe(n, c) => Some(c -> n.toInt)
        case _ => None
      }.toMap
    val buckets = m.bucketIds.isEmpty || preds.forall { p =>
      (for {
        n <- bucketN.get(p.col)
        ids <- m.bucketIds.get(p.col)
      } yield p.inBuckets(ids, n, ints = m.schemaCols.exists { case (c, k) =>
        c == p.col && ColumnSpec.fromPacked(c, k).lane == Lane.Ints
      })).getOrElse(true)
    }
    buckets && admit(m.longRanges, preds) && admitProofs(m.rows,
      m.env.nullCounts.get, m.env.strDicts, m.env.strRanges, preds)
  }

  /** Chunk-granular input partitions for some of `snap`'s manifests,
    * seen through the query's chain names `cols`: admitted chunks grouped
    * into runs of ≤ maxSplitBytes (shared by the batch scan and the
    * micro-batch stream).
    *
    * Two-level planning (round 8): containers are admitted against the
    * index summary FIRST ([[admitManifest]]); only survivors have their
    * per-chunk stats hydrated ([[TableSnapshot.hydrate]], one
    * commit-marker read per admitted container) — index bytes parsed per
    * plan are bounded by the table's container count, chunk-stat bytes by
    * ADMITTED containers.
    */
  private[sources] def planPartitions(snap: TableSnapshot,
      manifests: Seq[TableManifest], cols: Seq[String],
      preds: Array[Pred], maxSplitBytes: Long,
      neededCols: Set[String]): Array[InputPartition] = {
    val parts = Array.newBuilder[InputPartition]
    manifests.filterNot(_.schemaMarker).sortBy(_.name).foreach { m =>
      val file = m.blockFile(snap.path)
      // the reader translates between the query's CURRENT names and this
      // container's stored labels (rename support), and null-fills the
      // needed columns the container predates (add-only evolution: a
      // value test of one skips the container whole, and IS NULL on one
      // holds on every row: [[Pred.within]])
      val v = snap.view(m, cols)
      val absent = neededCols.filterNot(v.covered)
      val admission = v.admission(preds.toSeq)
      if (admission.exists(admitManifest(m, _))) {
        val mPreds = admission.get
        val admitted = snap.hydrate(m).chunkIndex
          .filter(admitChunk(_, mPreds))
          .map(c => ChunkSpec(c.offset, c.length, c.rows, c.blockCrcs))
        def emit(run: List[ChunkSpec]): Unit =
          parts += GraftInputPartition(file, run.reverse, v.digestCol,
            absent, v.toStored)
        var run = List.empty[ChunkSpec]
        var runBytes = 0L
        admitted.foreach { c =>
          if (run.nonEmpty && runBytes + c.length > maxSplitBytes) {
            emit(run)
            run = Nil; runBytes = 0L
          }
          run = c :: run
          runBytes += c.length
        }
        if (run.nonEmpty) emit(run)
      }
    }
    parts.result()
  }

  private[sources] def rowPasses(tests: Array[Int => Boolean], j: Int): Boolean = {
    var i = 0
    while (i < tests.length) {
      if (!tests(i)(j)) return false
      i += 1
    }
    true
  }
}

class GraftTable(path: String, tableSchema: StructType)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft:$path"
  override def schema(): StructType = tableSchema
  // ACCEPT_ANY_SCHEMA: a write to a NEW table defines its schema (the
  // provider can't see the DataFrame at inferSchema time); the write
  // builder enforces the representable kinds and match-or-extend
  // appends (add-only evolution)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.STREAMING_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.ACCEPT_ANY_SCHEMA)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(path, tableSchema, options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(path, info)
}

// ------------------------------------------------------------------- read

/** One fully-pushed aggregate, answered from the manifests alone. MIN/MAX
  * carry the column's spec: an ordered kind folds its zone maps and
  * surfaces the bound as its own Spark value
  * ([[graft.engine.Kind.zoneValue]]); a string folds its all-ASCII
  * ranges.
  */
private[sources] sealed trait GraftAgg
private[sources] case object CountStarAgg extends GraftAgg
private[sources] final case class MinAgg(spec: ColumnSpec) extends GraftAgg {
  override def toString: String = s"MinAgg(${spec.name},${spec.dataType})"
}
private[sources] final case class MaxAgg(spec: ColumnSpec) extends GraftAgg {
  override def toString: String = s"MaxAgg(${spec.name},${spec.dataType})"
}
/** COUNT(col) = rows − Σ per-chunk null counts (round 7). `nullable`
  * false = the schema proves zero nulls (count == row count, any kind);
  * true = every committed manifest's chunks were verified at translate
  * time to carry a null-count entry for `col`, or to predate it (a
  * manifest without the entry rejects the pushdown instead of
  * undercounting).
  */
private[sources] final case class CountAgg(col: String,
                                           nullable: Boolean) extends GraftAgg

class GraftScanBuilder(path: String, tableSchema: StructType,
                       options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownAggregates
    with SupportsPushDownLimit {

  private val layout = GraftDataSource.layoutOf(tableSchema)
  private var required: StructType = tableSchema
  private var pushed: Array[(Filter, Pred)] = Array.empty
  private var aggs: Option[Seq[GraftAgg]] = None
  private var limit: Int = Int.MaxValue

  // PARTIALLY pushed: each reader stops decoding after `limit` surviving
  // rows (chunks after the cut are never decoded), Spark applies the
  // global limit across partitions
  override def pushLimit(n: Int): Boolean = { limit = n; true }
  override def isPartiallyPushed(): Boolean = true

  private def fieldName(e: Expression): Option[String] = e match {
    case r: NamedReference if r.fieldNames().length == 1 => Some(r.fieldNames()(0))
    case _ => None
  }

  /** The table snapshot this query plans against, read ONCE (at the
    * snapshot version `versionAsOf`/`timestampAsOf` pin, if any): the
    * aggregate-pushdown proofs, the scan's statistics, runtime filters
    * and partition planning, or the aggregate scan's fold all use it.
    * A failed read fails planning with the snapshot's controlled error.
    */
  private lazy val snap: TableSnapshot = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    new TableSnapshot(path, conf, GraftDataSource.asOfVersion(options, conf, path))
  }

  /** The query's chain names ([[TableSnapshot.chainOf]]): its load-time
    * visible names on the snapshot's positional chain.
    */
  private lazy val cols: Seq[String] = snap.chainOf(tableSchema.fieldNames.toSeq)

  /** COUNT(*)/COUNT(col)/MIN/MAX over integer columns, ungrouped and
    * unfiltered, translate to manifest lookups (row counts, per-chunk
    * null counts, and zone maps are EXACT); anything else stays in Spark.
    */
  private def translate(agg: Aggregation): Option[Seq[GraftAgg]] = {
    if (agg.groupByExpressions().nonEmpty || pushed.nonEmpty) return None
    def minMaxable(c: String): Option[ColumnSpec] =
      layout.get(c).filter { s =>
        Kinds(s.kind).ordered ||
          // string MIN/MAX: sound only when (a) the column is
          // non-nullable ("" null placeholders would pollute the chunk
          // mins) and (b) EVERY chunk of every committed manifest
          // recorded an all-ASCII range — where Java, UTF8String, and
          // DuckDB collation provably agree. Anything else stays in
          // Spark.
          (Kinds(s.kind).stored == Stored.Utf8 && !s.nullable &&
            snap.all.forall(m =>
              // zero-row tombstones (delete) contribute no values
              m.schemaMarker || m.rows == 0 ||
                m.env.strRanges.contains(snap.view(m, cols).stored(c))))
      }
    def countable(c: String): Option[CountAgg] =
      tableSchema.fields.find(_.name == c).flatMap { f =>
        if (!f.nullable) Some(CountAgg(c, nullable = false))
        else Option.when(snap.all.forall { m =>
          val v = snap.view(m, cols)
          // a manifest that PREDATES the column (add-only evolution) is
          // all-NULL for it — provable by POSITION (names are labels)
          m.schemaMarker || m.rows == 0 || v.predates(c) ||
            m.env.nullCounts.contains(v.stored(c))
        })(CountAgg(c, nullable = true))
      }
    val specs = agg.aggregateExpressions().toSeq.map {
      case _: CountStar => Some(CountStarAgg)
      case m: Min => fieldName(m.column).flatMap(minMaxable).map(MinAgg)
      case m: Max => fieldName(m.column).flatMap(minMaxable).map(MaxAgg)
      case c: Count if !c.isDistinct => fieldName(c.column).flatMap(countable)
      case _ => None
    }
    if (specs.nonEmpty && specs.forall(_.isDefined)) Some(specs.map(_.get)) else None
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    translate(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean =
    translate(agg) match {
      case some @ Some(_) => aggs = some; true
      case None => false
    }

  override def pruneColumns(requiredSchema: StructType): Unit =
    // empty projection (e.g. count(*)) still needs one column to drive
    // row counts; prefer a FIXED-WIDTH column (cheapest decode), then a
    // string, and only then binary/float-array — the heaviest blocks to
    // decode just for counting rows
    required =
      if (requiredSchema.isEmpty)
        StructType(Seq(tableSchema.fields.minBy(f =>
          Kinds(layout(f.name).kind).stored.weight)))
      else requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // fully enforced below (chunk skip + row-level check); a filter the
    // boundary does not push stays residual in its ORIGINAL form
    val all = filters.map(f => f -> GraftDataSource.pushdown(f, layout))
    pushed = all.flatMap(_._2)
    all.collect { case (f, None) => f }
  }

  override def pushedFilters(): Array[Filter] = pushed.map(_._1)

  override def build(): Scan = {
    val maxSplit = Option(options.get("maxSplitBytes")).map(_.toLong)
      .getOrElse(GraftDataSource.DefaultMaxSplitBytes)
    aggs match {
      case Some(specs) => new GraftAggScan(snap, cols, specs)
      case None => new GraftScan(snap, tableSchema.fieldNames.toSeq,
        required, pushed, limit, maxSplit, layout)
    }
  }
}

/** Completely-pushed aggregate scan: the answer comes from the manifest
  * index (exact row counts and per-partition zone maps), so the query
  * never opens a container. Emits exactly one row. It answers from its
  * PLANNING snapshot — exactly the manifests the builder checked its
  * proofs on — so an append landing between planning and execution is
  * simply not part of this query's answer (snapshot isolation).
  */
class GraftAggScan private[sources] (snap: TableSnapshot, cols: Seq[String],
                                     specs: Seq[GraftAgg]) extends Scan with Batch {
  override def readSchema(): StructType = StructType(specs.map {
    case CountStarAgg => StructField("count_star", LongType, nullable = false)
    case MinAgg(s) => StructField(s"min_${s.name}", s.dataType, nullable = true)
    case MaxAgg(s) => StructField(s"max_${s.name}", s.dataType, nullable = true)
    case CountAgg(c, _) => StructField(s"count_$c", LongType, nullable = false)
  })
  override def toBatch: Batch = this
  override def description(): String =
    s"graft ${snap.path}, PushedAggregates: [${specs.mkString(", ")}] (manifest-answered)"

  override def planInputPartitions(): Array[InputPartition] = {
    var rows = 0L
    var mins = Map.empty[String, Long]
    var maxs = Map.empty[String, Long]
    // COUNT(col) accumulators: rows minus the chunk null counts. A
    // non-nullable CountAgg never reads counts (zero by schema proof); a
    // nullable one was admitted only after translate() verified every
    // manifest of this snapshot carries entries.
    val countCols = specs.collect { case CountAgg(c, n) => (c, n) }
    var nonNull = Map.empty[String, Long]
    // string MIN/MAX fold the per-chunk all-ASCII ranges (translate()
    // admitted the pushdown only after proving every chunk carries one)
    def str(s: ColumnSpec): Boolean = Kinds(s.kind).stored == Stored.Utf8
    val strAggCols = specs.collect {
      case MinAgg(s) if str(s) => s.name
      case MaxAgg(s) if str(s) => s.name
    }.toSet
    var sMins = Map.empty[String, String]
    var sMaxs = Map.empty[String, String]
    snap.all.filterNot(_.schemaMarker).foreach { m =>
      rows += m.rows
      // rename support: this container's stats are keyed by its stored
      // (historical) labels; fold them under the CURRENT names
      val v = snap.view(m, cols)
      val toCur = v.toStored.map(_.swap)
      m.longRanges.foreach { case (c0, (lo, hi)) =>
        val c = toCur.getOrElse(c0, c0)
        mins = mins.updated(c, mins.get(c).fold(lo)(math.min(_, lo)))
        maxs = maxs.updated(c, maxs.get(c).fold(hi)(math.max(_, hi)))
      }
      countCols.foreach { case (c, nullable) =>
        val nulls =
          if (!nullable || m.rows == 0) 0L
          else if (v.predates(c)) m.rows // all-NULL for a predated column
          else {
            val n = m.env.nullCounts.get(v.stored(c))
            require(n.isDefined, s"planner bug: COUNT($c) pushed over " +
              s"${m.name}, which records no null counts for it")
            n.get
          }
        nonNull = nonNull.updated(c, nonNull.getOrElse(c, 0L) + m.rows - nulls)
      }
      if (strAggCols.nonEmpty && m.rows > 0) strAggCols.foreach { c =>
        val r = m.env.strRanges.get(v.stored(c))
        require(r.isDefined, s"planner bug: string MIN/MAX($c) pushed over " +
          s"${m.name}, which records no ASCII range for it")
        val (lo, hi) = r.get
        sMins = sMins.updated(c,
          sMins.get(c).filter(_.compareTo(lo) <= 0).getOrElse(lo))
        sMaxs = sMaxs.updated(c,
          sMaxs.get(c).filter(_.compareTo(hi) >= 0).getOrElse(hi))
      }
    }
    // the one output row, in Spark's internal representation
    val values: Array[Any] = specs.map {
      case CountStarAgg => rows
      case MinAgg(s) if str(s) => sMins.get(s.name).map(UTF8String.fromString).orNull
      case MaxAgg(s) if str(s) => sMaxs.get(s.name).map(UTF8String.fromString).orNull
      case MinAgg(s) => mins.get(s.name).map(Kinds(s.kind).zoneValue(_, s)).orNull
      case MaxAgg(s) => maxs.get(s.name).map(Kinds(s.kind).zoneValue(_, s)).orNull
      case CountAgg(c, _) => nonNull.getOrElse(c, 0L)
    }.toArray
    Array(GraftAggPartition(values))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val vals = p.asInstanceOf[GraftAggPartition].values
          private var emitted = false
          override def next(): Boolean =
            if (emitted) false else { emitted = true; true }
          override def get(): InternalRow = new GenericInternalRow(vals.clone())
          override def close(): Unit = ()
        }
    }
}

case class GraftAggPartition(values: Array[Any]) extends InputPartition

/** One chunk's read plan: byte range + expected block CRCs. */
case class ChunkSpec(offset: Long, length: Long, rows: Int,
                     crcs: Map[String, Long]) extends graft.engine.ChunkRange

/** A run of chunks from one container, read at their indexed byte
  * ranges. `digestCol` is the manifest's recorded digest column ("" =
  * chunk digests not verifiable for this partition). `absentCols`
  * (round 7, add-only schema evolution): needed columns the container
  * predates — the reader surfaces them as NULL for every row (planning
  * already skipped containers a non-IsNull filter on such a column
  * would empty).
  */
case class GraftInputPartition(file: String, chunks: Seq[ChunkSpec],
                               digestCol: String,
                               absentCols: Set[String] = Set.empty,
                               renames: Map[String, String] = Map.empty)
    extends InputPartition

/** The batch scan over the builder's [[TableSnapshot]]: statistics,
  * runtime-filter admission and input-partition planning all read the
  * same manifests (filters only affect chunk admission, never the
  * manifest set). `visNames` are the query's load-time visible names.
  */
class GraftScan private[sources] (snap: TableSnapshot, visNames: Seq[String],
                                  required: StructType,
                                  initialPushed: Array[(Filter, Pred)], limit: Int,
                                  maxSplitBytes: Long,
                                  layout: Map[String, ColumnSpec])
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering {
  private val cols = snap.chainOf(visNames)
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Compile-time pushed filters plus any runtime filters accepted in
    * [[filter]], as [[GraftDataSource.pushdown]] returns them: the shown
    * filters print in [[description]], and chunk admission and the
    * row-level re-check use the combined preds.
    */
  private var pushed: Array[(Filter, Pred)] = initialPushed
  private def preds: Array[Pred] = pushed.map(_._2)

  /** Runtime (DPP-style) filtering: a broadcast join's build-side keys
    * arrive as an `In` filter before `planInputPartitions`, so a
    * dim-filtered join decodes only the chunks whose zone maps/dicts can
    * hold matching keys — the dynamic-partition-pruning shape, at chunk
    * granularity.
    */
  override def filterAttributes(): Array[NamedReference] =
    // only the scan's OUTPUT columns — Spark resolves these against the
    // pruned schema, and any of them can drive chunk admission
    required.fieldNames.map(
      org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(runtime: Array[Filter]): Unit =
    // runtime (DPP) filters arrive in LOGICAL form and cross the same
    // boundary as the filters pushed at planning
    pushed = pushed ++ runtime.flatMap(GraftDataSource.pushdown(_, layout))

  /** Manifest-derived table statistics, so Catalyst/AQE can size joins
    * (e.g. auto-broadcast a small graft table) without scanning it.
    * Conservative: raw (decoded) bytes, prorated over ADMITTED chunks —
    * zone-map skipping shrinks the estimate with the filters.
    */
  override def estimateStatistics(): Statistics = {
    var rows = 0L
    var bytes = 0L
    var any = false
    snap.committed.foreach { m =>
      // index-elided manifests estimate at SUMMARY granularity (whole
      // container in or out) rather than paying a chunk-detail read per
      // container just for statistics — a conservative overestimate
      // under selective filters, refined to chunk granularity by the
      // actual planning that follows. The container's admission set
      // ([[ContainerView.admission]]) zeroes containers a value filter
      // on a predated column can't match.
      val admittedRows =
        snap.view(m, cols).admission(preds.toSeq) match {
          case None => 0L
          case Some(mPreds) =>
            if (m.chunksElided)
              if (GraftDataSource.admitManifest(m, mPreds)) m.rows else 0L
            else
              m.chunkIndex.filter(GraftDataSource.admitChunk(_, mPreds))
                .map(_.rows.toLong).sum
        }
      if (admittedRows > 0) {
        rows += admittedRows
        bytes += (m.rawBytes.toDouble * admittedRows / math.max(m.rows, 1L)).toLong
        any = true
      }
    }
    val (r, b) = (rows, bytes)
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        if (any) java.util.OptionalLong.of(b) else java.util.OptionalLong.empty()
      override def numRows(): java.util.OptionalLong =
        if (any) java.util.OptionalLong.of(r) else java.util.OptionalLong.empty()
    }
  }

  override def description(): String =
    s"graft ${snap.path}, ReadSchema: ${required.fieldNames.mkString(",")}, " +
      s"PushedFilters: [${pushed.map(_._1).mkString(", ")}]" +
      (if (limit != Int.MaxValue) s", PushedLimit: $limit" else "")

  /** Chunk-granular splits: admitted chunks of each committed container
    * grouped into runs of ≤ maxSplitBytes — a single giant container
    * parallelizes across tasks, and a selective filter decodes only the
    * chunks its zone maps/dicts admit. Containers without a manifest are
    * ORPHANS of failed writes and are never planned (the manifest is the
    * commit marker on the read side too).
    */
  override def planInputPartitions(): Array[InputPartition] =
    GraftDataSource.planPartitions(snap, snap.committed, cols, preds,
      maxSplitBytes, required.fieldNames.toSet ++ preds.map(_.col))

  override def createReaderFactory(): PartitionReaderFactory = new GraftReaderFactory(
    required, preds, layout, ContainerIO.shippedConf(SparkSession.active), limit)

  /** `readStream.format("graft")` — micro-batch TAILING of this table:
    * each trigger reads exactly the manifests committed since the last
    * processed offset ([[GraftMicroBatchStream]]), with the same pushed
    * filters, pruned columns, chunk admission, and verified readers as
    * a batch scan.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(snap.asOf.isEmpty,
      "graft time travel (versionAsOf/timestampAsOf) is batch-only; a " +
        "stream tails the live table")
    new GraftMicroBatchStream(snap.path, checkpointLocation, required,
      preds, ContainerIO.shippedConf(SparkSession.active), maxSplitBytes, layout, visNames)
  }
}

class GraftReaderFactory(required: StructType, preds: Array[Pred],
                         layout: Map[String, ColumnSpec],
                         shipped: Broadcast[ShippedConf], limit: Int)
    extends PartitionReaderFactory {

  /** The decoded data is already columnar (one array per block) — every
    * partition hands Spark `ColumnarBatch`es instead of materializing a
    * row object per row; `ColumnarToRow` (codegen'd) or downstream
    * columnar operators take it from there.
    */
  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("graft scans are read columnar")

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new GraftColumnarReader(partition.asInstanceOf[GraftInputPartition],
      required, preds, layout, shipped, limit)
}

/** The DSv2 reader: one `ColumnarBatch` per (filtered) chunk, filled
  * straight from the decoded column arrays. Pushed filters are re-checked
  * per row; reads that decode the digest column verify the chunk digest.
  */
class GraftColumnarReader(p: GraftInputPartition, required: StructType,
                          preds: Array[Pred],
                          layout: Map[String, ColumnSpec],
                          shipped: Broadcast[ShippedConf],
                          limit: Int)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  // schema evolution: this container predates `absentCols` — their rows
  // are all-NULL here (the planner's rule, [[Pred.within]]: IS NULL on
  // them holds and is dropped; planning skipped containers any other
  // test of them would empty); the cursor must not request their blocks
  private val effPreds = Pred.within(preds, p.absentCols).getOrElse(
    throw new IllegalArgumentException(s"planner bug: a pushed filter " +
      s"tests a column this container predates (${p.absentCols.mkString(",")})"))
    .toArray
  private val cursor = new ChunkCursor(p.file, p.chunks,
    ((required.fieldNames ++ effPreds.map(_.col)).toSet -- p.absentCols)
      .map(c => c -> layout(c).lane).toMap,
    shipped.value.conf, p.digestCol, p.renames)
  private val rowPreds = GraftDataSource.compileFilters(effPreds)
  private val fields = required.fields
  private val specs: Array[ColumnSpec] = fields.map(f => layout(f.name))
  private val fieldAbsent: Array[Boolean] =
    required.fields.map(f => p.absentCols.contains(f.name))
  private var batch: ColumnarBatch = _
  private var emitted = 0

  override def next(): Boolean = {
    if (batch != null) { batch.close(); batch = null }
    while (emitted < limit && cursor.chunkIter.hasNext) {
      val chunk = cursor.chunkIter.next()
      val tests = rowPreds.map(_(chunk))
      // selection vector: row indices surviving the pushed filters
      val sel = new Array[Int](chunk.rows)
      var m = 0
      var j = 0
      while (j < chunk.rows && emitted + m < limit) {
        if (GraftDataSource.rowPasses(tests, j)) {
          sel(m) = j; m += 1
        }
        j += 1
      }
      if (m > 0) {
        val vecs = new Array[ColumnVector](fields.length)
        var i = 0
        while (i < fields.length) {
          vecs(i) =
            if (fieldAbsent(i)) {
              val v = new OnHeapColumnVector(m, fields(i).dataType)
              v.putNulls(0, m)
              v
            } else Kinds(specs(i).kind).vector(chunk.col(fields(i).name), sel, m, specs(i))
          i += 1
        }
        emitted += m
        batch = new ColumnarBatch(vecs, m)
        return true
      }
    }
    false
  }

  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = batch
  override def close(): Unit = {
    if (batch != null) { batch.close(); batch = null }
    cursor.close()
  }
}

// -------------------------------------------------------------- streaming read

/** Streaming offset = a monotone BATCH id, O(1) no matter how long the
  * tail runs. The manifest names each batch covers live in the source's
  * own seen-log under the checkpoint (`FileStreamSource`'s shape — the
  * first cut serialized the full cumulative name set into every offset,
  * which grows without bound over the life of a query).
  */
case class GraftStreamOffset(batch: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"batch":$batch}"""
}

object GraftStreamOffset {
  def parse(json: String): GraftStreamOffset = {
    val b = Manifests.Json.readTree(json).get("batch")
    require(b != null && b.canConvertToLong, s"bad graft stream offset: $json")
    GraftStreamOffset(b.asLong())
  }
}

/** Micro-batch tailing of a graft table. Every time `latestOffset` sees
  * committed manifests it has not logged yet, it assigns them the next
  * batch id and persists that name list as
  * `<checkpoint>/graft-seen/<batch>.json` BEFORE returning the offset —
  * so `planInputPartitions(start, end)` (including replays after a
  * restart) resolves any (start, end] range from the durable log, while
  * the offsets Spark checkpoints stay O(1). Batches plan chunk-granular
  * with the scan's pushed filters and pruned columns, against one
  * [[TableSnapshot]] per trigger that lays the query's load-time visible
  * names `visNames` on the trigger's chain. Append-mostly
  * semantics: an epoch REPLAY or an overwrite re-commits new names,
  * which the tail emits as new data (the `FileStreamSource` contract on
  * rewrites).
  *
  * Log GC (round 6): per-batch entries at or below a COMMITTED offset
  * are only needed for their seen-set names (Spark never replays below
  * its committed offset), so `commit(end)` folds them into one
  * `<end>.compact.json` once [[GraftMicroBatchStream.CompactInterval]]
  * of them accumulate and deletes the per-batch files — the
  * `FileStreamSource` compaction shape. The log under the checkpoint
  * stays bounded by the interval plus one compact file (whose size
  * grows with the table's total manifest history, as
  * FileStreamSource's does).
  */
class GraftMicroBatchStream(path: String, checkpointLocation: String,
                            required: StructType,
                            preds: Array[Pred],
                            shipped: Broadcast[ShippedConf],
                            maxSplitBytes: Long,
                            layout: Map[String, ColumnSpec],
                            visNames: Seq[String] = Nil)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private val conf = shipped.value.conf
  private val logDir = s"$checkpointLocation/graft-seen"
  private val LogName = """(\d+)\.json""".r
  private val CompactName = """(\d+)\.compact\.json""".r
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  // batch id -> the manifest names that batch covers (mirror of the
  // on-disk log; loaded lazily, appended as latestOffset assigns).
  // Batches folded into a compact file live in (compactedThrough,
  // compactedNames) instead: their names still count as seen, but they
  // are no longer per-batch resolvable (Spark never replays them).
  private val seenLog = scala.collection.mutable.Map.empty[Long, Seq[String]]
  private var compactedThrough: Long = -1L
  private var compactedNames: Set[String] = Set.empty

  private def namesJson(names: Seq[String]): Array[Byte] =
    Manifests.Json.writeValueAsBytes(names.toArray)

  private def readNames(file: String): Seq[String] = {
    val root = Manifests.Json.readTree(ContainerIO.readAll(conf, file))
    require(root.isArray, s"corrupt graft stream seen-log entry $file")
    root.elements().asScala.map(_.asText()).toSeq
  }

  private def refreshLog(): Unit = {
    val names = ContainerIO.listNames(conf, logDir)
    // highest compact file wins; per-batch entries it folded are gone
    names.collect { case n @ CompactName(b) => (b.toLong, n) }
      .sortBy(_._1).lastOption.foreach { case (b, n) =>
        if (b > compactedThrough) {
          compactedNames = readNames(s"$logDir/$n").toSet
          compactedThrough = b
          seenLog.filterInPlace { case (id, _) => id > b }
        }
      }
    names.foreach {
      case n @ LogName(b) =>
        val id = b.toLong
        if (id > compactedThrough && !seenLog.contains(id))
          seenLog(id) = readNames(s"$logDir/$n")
      case _ => ()
    }
  }

  // one table snapshot per trigger: latestOffset reads it, the same
  // trigger's planInputPartitions reuses it (replaced manifests since the
  // read just stop resolving — same semantics as a fresh read); a
  // restart-replay with no prior latestOffset reads directly
  @volatile private var lastSnap: TableSnapshot = null

  private def snapshot(): TableSnapshot = {
    lastSnap = new TableSnapshot(path, conf)
    lastSnap
  }

  override def initialOffset(): Offset = GraftStreamOffset(-1L)

  private def maxBatch: Long =
    if (seenLog.isEmpty) compactedThrough else seenLog.keys.max

  override def latestOffset(): Offset = {
    refreshLog()
    val seenAll = compactedNames ++ seenLog.values.flatten
    val fresh = snapshot().committed.map(_.name).filterNot(seenAll).sorted
    if (fresh.isEmpty) GraftStreamOffset(maxBatch)
    else {
      val next = maxBatch + 1
      ContainerIO.mkdirs(conf, logDir)
      if (ContainerIO.createExclusive(conf, s"$logDir/$next.json", namesJson(fresh)))
        seenLog(next) = fresh
      else refreshLog() // lost a (restart) race; the log has the truth
      GraftStreamOffset(maxBatch)
    }
  }

  override def deserializeOffset(json: String): Offset =
    GraftStreamOffset.parse(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftStreamOffset].batch
    val e = end.asInstanceOf[GraftStreamOffset].batch
    refreshLog()
    // a replayed range whose seen-log entries are GONE (checkpoint
    // restored without graft-seen/, deleted log files) must FAIL, not
    // silently commit an empty batch and skip those rows forever. A
    // batch at or below compactedThrough was folded by commit(), which
    // only ever runs on COMMITTED offsets Spark will not replay — if it
    // shows up anyway, the checkpoint and the log disagree: fail.
    (s + 1) to e foreach { b =>
      require(b > compactedThrough,
        s"graft stream batch $b was compacted below the committed " +
          s"offset under $logDir; a replay of offsets ($s, $e] should " +
          "be impossible — the checkpoint and seen-log disagree")
      require(seenLog.contains(b),
        s"graft stream seen-log entry for batch $b is missing under " +
          s"$logDir — the checkpoint is incomplete; cannot replay " +
          s"offsets ($s, $e] without it")
    }
    val want = seenLog.collect {
      case (b, names) if b > s && b <= e => names
    }.flatten.toSet
    // logged-but-since-replaced names (epoch replay, truncate) simply no
    // longer resolve; their replacements arrive as a later batch
    val snap = Option(lastSnap).getOrElse(snapshot())
    val ms = snap.committed
    val fresh = ms.filter(m => want.contains(m.name))
    val unresolved = want -- fresh.map(_.name)
    // SUBSTITUTION across compaction (round 7): a logged container that
    // GraftMaintenance.compact folded away has a live compacted
    // generation whose `ancestors` record exactly the consumed EPOCHS.
    // Substituting it keeps the replay exactly-once iff EVERY epoch the
    // candidate folded belongs to this replay range (compaction consumes
    // whole epochs, so coverage is all-or-nothing per epoch; an ancestor
    // outside the range would smuggle another batch's rows in — those
    // candidates stay warn-and-drop, the documented residual).
    val substituted: Seq[graft.engine.TableManifest] =
      if (unresolved.isEmpty) Nil
      else {
        val rangeEpochs = want.map(n =>
          Manifests.epochKey(Manifests.logicalName(n)))
        val missEpochs = unresolved.map(n =>
          Manifests.epochKey(Manifests.logicalName(n)))
        ms.filter { m =>
          !want.contains(m.name) && m.ancestors.exists(missEpochs) &&
            m.ancestors.forall(rangeEpochs)
        }
      }
    val coveredEpochs = substituted.flatMap(_.ancestors).toSet
    val dropped = unresolved.filterNot(n =>
      coveredEpochs(Manifests.epochKey(Manifests.logicalName(n))))
    if (substituted.nonEmpty) log.info(
      s"graft stream replay of ($s, $e] on $path: substituting " +
        s"${substituted.size} compacted generation(s) for " +
        s"${(unresolved -- dropped).size} folded logged manifest(s)")
    if (dropped.nonEmpty) {
      // a dropped name whose epoch lives inside a compacted generation
      // we could NOT substitute (its ancestors span epochs outside this
      // replay range) means this batch's rows exist in the table but
      // cannot be re-emitted exactly-once: silently dropping them would
      // lose committed data from the replay (round-7 residual). Fail
      // LOUDLY instead — the stream cannot replay across that
      // compaction boundary and needs a fresh checkpoint.
      def inLive(n: String): Boolean = {
        val ek = Manifests.epochKey(Manifests.logicalName(n))
        ms.exists(_.ancestors.contains(ek))
      }
      val foldedAway = dropped.filter(inLive)
      if (foldedAway.nonEmpty) throw new IllegalStateException(
        s"graft stream replay of ($s, $e] on $path: " +
          s"${foldedAway.size} logged manifest(s) were folded into a " +
          s"compacted generation spanning epochs OUTSIDE this replay " +
          s"range (${foldedAway.toSeq.sorted.take(8).mkString(", ")}" +
          (if (foldedAway.size > 8) ", …" else "") + "); their rows " +
          "cannot be re-emitted exactly-once. Restart the query from a " +
          "fresh checkpoint, or pause consumers across compaction of a " +
          "streamed-from table")
      log.warn(
        s"graft stream replay of ($s, $e] on $path: ${dropped.size} " +
          s"logged manifest(s) no longer resolve (replaced by an epoch " +
          s"replay/overwrite since): ${dropped.toSeq.sorted.take(8).mkString(", ")}" +
          (if (dropped.size > 8) ", …" else "") +
          "; their replacement generations arrive as later batches")
    }
    GraftDataSource.planPartitions(snap, fresh ++ substituted,
      snap.chainOf(visNames), preds, maxSplitBytes,
      required.fieldNames.toSet ++ preds.map(_.col))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(required, preds, layout, shipped, Int.MaxValue)

  /** Fold per-batch seen-log entries at or below the COMMITTED offset
    * into one `<end>.compact.json` once [[GraftMicroBatchStream
    * .CompactInterval]] of them accumulate (Spark replays only ranges
    * above its committed offset, so per-batch resolution below it is
    * dead weight — only the names' membership in the seen-set matters).
    * Best-effort: a crash mid-compaction leaves either the old
    * per-batch files, or the compact file plus some per-batch files it
    * already covers — `refreshLog` handles both.
    */
  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[GraftStreamOffset].batch
    refreshLog()
    val foldable = seenLog.keys.filter(b => b <= e).toSeq.sorted
    if (foldable.size < GraftMicroBatchStream.CompactInterval) return
    val names = (compactedNames ++
      foldable.flatMap(seenLog(_))).toSeq.sorted
    val top = foldable.max
    if (ContainerIO.createExclusive(conf, s"$logDir/$top.compact.json", namesJson(names))) {
      val f = ContainerIO.fs(logDir, conf)
      // covered per-batch files and superseded compact files are GC'd
      ContainerIO.listNames(conf, logDir).filter {
        case LogName(b) => b.toLong <= top
        case CompactName(b) => b.toLong < top
        case _ => false
      }.foreach(n => f.delete(new Path(s"$logDir/$n"), false))
      compactedNames = names.toSet
      compactedThrough = top
      seenLog.filterInPlace { case (id, _) => id > top }
    }
  }

  override def stop(): Unit = ()
}

object GraftMicroBatchStream {
  /** Compact the seen-log once this many committed per-batch entries
    * accumulate (FileStreamSource's compactInterval shape).
    */
  final val CompactInterval = 10
}

// ------------------------------------------------------------------ write

class GraftWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = {
    val in0 = info.schema()
    // any schema of the kinds specsOf accepts is writable (specsOf
    // validates); a first write defines the table's schema, an APPEND
    // must match the committed one on (name, kind) in order, and an
    // overwrite may replace it. NULLABILITY is the table's, not the
    // incoming DataFrame's: Spark schemas routinely carry nullable=true
    // for columns that hold no nulls (every toDF string field does), so
    // appends adopt the committed nullability — an actual null aimed at
    // a non-nullable table column still fails per value in the encoder
    val specs0 = GraftDataSource.specsOf(in0)
    // the committed table an append lands on, read once (an overwrite
    // replaces it and reads nothing)
    val snap = Option.when(!doTruncate)(new TableSnapshot(path,
      SparkSession.active.sparkContext.hadoopConfiguration)).filter(_.exists)
    val in =
      snap.map(_.schema).map { existing =>
        val tableSpecs = GraftDataSource.specsOf(existing)
        val tPairs = tableSpecs.map(s => (s.name, s.kind))
        val wPairs = specs0.map(s => (s.name, s.kind))
        if (wPairs == tPairs)
          StructType(in0.fields.lazyZip(tableSpecs).map((f, s) =>
            f.copy(nullable = s.nullable)))
        else if (wPairs.size > tPairs.size &&
            wPairs.take(tPairs.size) == tPairs) {
          // add-only schema EVOLUTION: the append keeps the committed
          // schema as its prefix and adds trailing columns. Added
          // columns must be NULLABLE — containers written before the
          // add have no block for them and read back all-NULL, which
          // only a nullable column can represent.
          val added = in0.fields.drop(tableSpecs.size)
          added.foreach(f => require(f.nullable,
            s"graft schema evolution: added column '${f.name}' must be " +
              s"nullable (rows written before the add are NULL there)"))
          StructType(in0.fields.take(tableSpecs.size)
            .lazyZip(tableSpecs).map((f, s) => f.copy(nullable = s.nullable))
            ++ added)
        } else throw new IllegalArgumentException(
          s"graft append schema mismatch: table has ${existing.simpleString}, " +
            s"write is ${in0.simpleString} (an append must match the " +
            s"committed schema, or extend it with trailing nullable columns)")
      }.getOrElse(in0)
    val chunkRows = Option(info.options().get("chunkRows")).map(_.toInt)
      .getOrElse(ColumnarEngine.ChunkRows)
    val sortBy = Option(info.options().get("sortBy")).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    sortBy.foreach(c => require(in.fieldNames.contains(c),
      s"sortBy column '$c' is not in the write schema ${in.simpleString}"))
    // partition transforms (round 8): identity/days cluster+sort the
    // write; bucket(n, col) additionally records observed bucket ids
    val partBy = Option(info.options().get("partitionBy"))
      .map(GraftDataSource.parsePartitionBy).getOrElse(Nil)
    partBy.foreach { t =>
      val f = in.fields.find(_.name == t.col).getOrElse(
        throw new IllegalArgumentException(
          s"partitionBy column '${t.col}' is not in the write schema " +
            in.simpleString))
      val kind = Kinds.of(f.dataType)
      t match {
        case GraftDataSource.DaysT(c) =>
          require(kind.exists(_.temporal),
            s"days($c) needs a ${Kinds.names(_.temporal)} column, got ${f.dataType}")
        case GraftDataSource.BucketT(_, c) =>
          require(kind.exists(_.bucketable),
            s"bucket(n, $c) needs a ${Kinds.names(_.bucketable)} column, " +
              s"got ${f.dataType}")
        case _ => ()
      }
    }
    // writer-task count for clustered writes: AQE otherwise coalesces a
    // small clustered write into one task/container, defeating the
    // layout the transforms were declared for
    val writeParts = Option(info.options().get("writePartitions"))
      .map(_.toInt).getOrElse(0)
    // column drops (round 9): the manifests' schema chain must keep
    // dropped positions (field identity is positional) — interleave the
    // visible write specs into the committed full chain. Tables without
    // drops pass Nil (the untouched fast path).
    val fullCols: Seq[(String, Int)] = snap.map(_.chain) match {
      case Some(chain) if chain.exists(_.dropped) =>
        val it = GraftDataSource.specsOf(in).iterator
        (chain.map(s => if (s.dropped) s else it.next()) ++ it)
          .map(s => (s.name, s.packed))
      case _ => Nil
    }
    new GraftWrite(path, doTruncate, info.queryId(), chunkRows, in, sortBy,
      partBy, writeParts, fullCols)
  }
}

/** `option("sortBy", "colA,colB")` declares the write CLUSTERED by the
  * full sort key and sorted within partitions by it — Spark plans the
  * exchange + sort itself (the DSv2 `RequiresDistributionAndOrdering`
  * contract), so per-chunk dictionaries and zone maps come out
  * selective without the caller hand-sorting the DataFrame (what c6
  * had to do before round 5). Clustering hashes on ALL sort columns,
  * not just the head: a zipf-skewed leading column (one hot language,
  * one giant repo) would otherwise land in a single writer task, while
  * the within-partition sort alone already gives every chunk its
  * near-pure dictionary runs.
  */
class GraftWrite(path: String, truncate: Boolean, epoch: String,
                 chunkRows: Int, writeSchema: StructType,
                 sortBy: Seq[String],
                 partBy: Seq[GraftDataSource.PartTransform],
                 writeParts: Int,
                 fullCols: Seq[(String, Int)])
    extends Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}

  /** Distribution for the declared layout. Bucket transforms cluster by
    * Spark's `bucket()` expression (plus the other transforms' source
    * columns); identity/days-only layouts use RANGE distribution over
    * the source columns — contiguous value runs per task, the tightest
    * zone maps (`days()` as a clustering expression is unsupported for
    * path-based tables, and range-by-ts subsumes it). The distribution
    * only CO-LOCATES rows; pruning correctness rests on zone maps and
    * writer-recorded bucket ids, never on which task Spark routed a
    * row to.
    */
  override def requiredDistribution(): Distribution =
    if (sortBy.isEmpty && partBy.isEmpty) Distributions.unspecified()
    else if (partBy.exists(_.isInstanceOf[GraftDataSource.BucketT]))
      // hash-cluster by the bucket SOURCE columns (Spark can't resolve
      // a bucket() transform without a function catalog on path-based
      // tables); with writePartitions = n this routes each of OUR
      // Murmur3 buckets to exactly one task — see bucketIdOfLong
      Distributions.clustered(
        (partBy.map(t => Expressions.column(t.col): Expression) ++
          sortBy.map(c => Expressions.column(c): Expression)).toArray)
    else if (partBy.nonEmpty) Distributions.ordered(requiredOrdering())
    else Distributions.clustered(
      sortBy.map(c => Expressions.column(c): Expression).toArray)

  override def requiredOrdering(): Array[SortOrder] =
    // sort by the partition SOURCE columns first (tight zone maps per
    // container for identity/days), then the declared sort key
    (partBy.map(_.col) ++ sortBy).distinct
      .map(c => Expressions.sort(Expressions.column(c),
        SortDirection.ASCENDING)).toArray

  override def requiredNumPartitions(): Int = writeParts
  private def factory(): GraftWriterFactory = {
    val spark = SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    ContainerIO.mkdirs(conf, s"$path/blocks")
    ContainerIO.mkdirs(conf, s"$path/manifests")
    new GraftWriterFactory(path, epoch, ContainerIO.shippedConf(spark),
      chunkRows, writeSchema, partBy, fullCols)
  }

  /** Job-level commit: tasks publish only attempt-qualified CONTAINERS
    * (invisible to readers — no manifest); this commit writes every
    * manifest plus a new OCC-committed `_manifest-index.v<N>.json`
    * snapshot, and — for overwrite — deletes the old generation only
    * AFTER the new one is live. A failed/killed job leaves the previous
    * table fully intact; `abort` garbage-collects this epoch's staged
    * containers.
    */
  override def toBatch: BatchWrite = {
    val f = factory()
    new BatchWrite {
      override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = f
      override def commit(messages: Array[WriterCommitMessage]): Unit =
        GraftCommits.publish(f.conf, path, truncate, messages)
      override def abort(messages: Array[WriterCommitMessage]): Unit =
        GraftCommits.dropStaged(f.conf, path, epoch)
    }
  }

  /** `writeStream.format("graft")` — append-only micro-batch sink. Each
    * micro-batch commits as one epoch (`<queryId>-e<epochId>`) through
    * the same staged containers + manifest publication as a batch
    * append, so a replayed batch after a failure re-stages identical
    * containers under identical names (first-commit-wins) and
    * re-publishes the same manifests: the sink is idempotent per epoch,
    * which with the checkpointed epoch id gives effective exactly-once
    * table contents.
    */
  override def toStreaming: StreamingWrite = {
    require(!truncate,
      "graft streaming sink is append-only (outputMode(\"append\"))")
    val f = factory()
    new StreamingWrite {
      override def createStreamingWriterFactory(
          info: PhysicalWriteInfo): StreamingDataWriterFactory = f
      override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
        GraftCommits.publish(f.conf, path, truncate = false, messages)
      override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
        GraftCommits.dropStaged(f.conf, path, f.epochOf(epochId))
    }
  }
}

/** A task's staged container, described by its unpublished manifest. */
case class GraftCommitMessage(manifest: TableManifest) extends WriterCommitMessage

/** Two concurrent appends can each be a valid add-only extension of the
  * schema they SAW yet incompatible with each other (one adds `b`, one
  * adds `c`). The loser aborts with this inside its OCC index commit —
  * otherwise the committed schemas stop forming a prefix chain and every
  * subsequent read fails inference.
  */
class SchemaEvolutionConflict(msg: String) extends IllegalStateException(msg)

private[sources] object GraftCommits {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The add-only evolution guard of an OCC commit (round 7,
    * rename-aware since round 8): a landing manifest's `schema` must
    * match or extend the CURRENT schema of the snapshot the commit
    * actually lands on (positional identity with last-commit-wins names
    * — an old container's historical label is not a conflict, a
    * concurrent divergent add, rename or drop IS). Writers validate
    * against the snapshot they SAW; this re-check inside the OCC
    * transform is what catches the race.
    */
  private[sources] def checkSchema(path: String, parsedOld: Seq[TableManifest],
                                   schema: Seq[(String, Int)]): Unit =
    if (schema.nonEmpty && parsedOld.nonEmpty) {
      val cur = GraftDataSource.currentSpecsOf(parsedOld)
        .map(s => (s.name, s.packed))
      if (cur != schema.take(cur.size) && schema != cur.take(schema.size))
        throw new SchemaEvolutionConflict(
          s"concurrent schema evolution on $path: the table's current " +
            s"columns are ${cur.map(_._1).mkString(",")}, incompatible " +
            s"with this write's ${schema.map(_._1).mkString(",")}; " +
            "this append aborted")
    }

  private def epochOf(name: String): String =
    Manifests.epochKey(Manifests.logicalName(name))

  /** The one table commit: every change to a graft table (DSv2 batch and
    * stream writes, compaction, DELETE, UPDATE, UPSERT, rename, drop)
    * lands through it.
    *
    *  1. `staged` is stamped with ONE commit id above `base` and, per
    *     epoch, the number of containers the commit lands
    *     (`commitParts`): the listing-fallback normalizer selects whole
    *     generations by the id and tells a complete generation from a
    *     crashed one by the count. Their commit markers are written, on
    *     at most [[MarkerWriters]] threads, before the first claim.
    *  2. Each OCC attempt ([[Manifests.commitIndex]], whose first
    *     snapshot is `base`) calls `land(landing snapshot, stamped
    *     staged, attempt id)` for the next index. A manifest of that
    *     index that is neither in the landing snapshot nor already
    *     written (a schema marker built for this attempt, named with its
    *     id — an id above every manifest it lands on) gets its marker
    *     before the claim.
    *  3. `land` raises [[SchemaEvolutionConflict]] or
    *     [[GraftMaintenance.CompactionConflict]] before any claim: every
    *     container this commit wrote is then deleted and the conflict
    *     rethrown. Any other failure deletes nothing; what it leaves is
    *     unreferenced, and [[GraftMaintenance.vacuum]]'s to sweep.
    *  4. Once the claim has landed the commit has succeeded, and nothing
    *     after it is raised: the containers this commit wrote that the
    *     new index does not name (dropped replays, a superseded schema
    *     marker) and, with `reclaim`, the old containers the new index
    *     dropped are deleted, and a failed delete is only logged — a
    *     caller that saw a failure would drop staged blocks the landed
    *     index names.
    */
  def commit(conf: Configuration, path: String,
             base: (Long, Seq[TableManifest]), staged: Seq[TableManifest],
             reclaim: Boolean)(
      land: (Seq[TableManifest], Seq[TableManifest], String) => Seq[TableManifest]): Unit = {
    val commitId = Manifests.commitIdAbove(base._2)
    val parts = staged.groupBy(m => epochOf(m.name)).view.mapValues(_.size).toMap
    val stamped = staged.map(m =>
      m.copy(commitId = commitId, commitParts = parts(epochOf(m.name))))
    writeMarkers(stamped)(Manifests.writeManifest(conf, path, _))
    var written = stamped.map(_.name)
    var attempts = 0
    var next = Seq.empty[TableManifest]
    val prior =
      try Manifests.commitIndex(conf, path, landing => {
        // the first attempt lands on `base`, which commitId already tops
        val id = if (attempts == 0) commitId else Manifests.commitIdAbove(landing)
        attempts += 1
        next = land(landing, stamped, id)
        val known = landing.iterator.map(_.name).toSet ++ written
        next.filterNot(m => known(m.name)).foreach { m =>
          Manifests.writeManifest(conf, path, m)
          written :+= m.name
        }
        next
      }, Some(base))
      catch {
        case e @ (_: SchemaEvolutionConflict | _: GraftMaintenance.CompactionConflict) =>
          discard(conf, path, written)
          throw e
      }
    val live = next.iterator.map(_.name).toSet
    discard(conf, path, (written ++ (if (reclaim) prior.map(_.name) else Nil))
      .filterNot(live).distinct)
  }

  /** Delete containers this commit's index does not name, marker first;
    * a failure is logged, never raised (the leftover is unreferenced,
    * and vacuum's to sweep).
    */
  private def discard(conf: Configuration, path: String, names: Seq[String]): Unit =
    if (names.nonEmpty) {
      val f = ContainerIO.fs(path, conf)
      names.foreach { n =>
        try Manifests.deleteContainer(f, path, n)
        catch {
          case scala.util.control.NonFatal(e) =>
            log.warn(s"graft commit on $path: could not delete container $n " +
              "(left for vacuum)", e)
        }
      }
    }

  /** Publish one job's (or micro-batch's) staged containers through
    * [[commit]], replacing the previous generation of each published
    * EPOCH (everything on truncate). Re-publishing an epoch is
    * idempotent BY EPOCH: the replay's containers replace the original
    * generation WHOLE, regardless of how the replay re-partitioned the
    * epoch's rows — and when the original generation was COMPACTED away
    * ([[GraftMaintenance.compact]] records the consumed epoch keys as
    * the compacted manifest's `ancestors`), the replay is DROPPED
    * instead of appended: its rows already live inside the compacted
    * container, so re-adding them would double every row of the epoch.
    * Both decisions are made against the snapshot the winning attempt
    * lands on, and the replaced generation is deleted once the new one
    * is live.
    */
  def publish(conf: Configuration, path: String, truncate: Boolean,
              messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.toSeq.collect {
      case m: GraftCommitMessage if m.manifest.rows > 0 => m.manifest
    }.sortBy(_.name)
    if (staged.isEmpty && !truncate) return
    val schema = staged.headOption.map(_.schemaCols).getOrElse(Nil)
    commit(conf, path, Manifests.readCommittedVersion(conf, path), staged,
        reclaim = true) { (landing, stamped, _) =>
      if (truncate) stamped
      else {
        checkSchema(path, landing, schema)
        // epoch-granular on both sides: a replay may re-partition the
        // same rows, so a per-container match would drop or replace
        // only part of the epoch. Compaction consumes only WHOLE epochs,
        // so an ancestor epoch key means every row of that epoch lives
        // in a compacted generation.
        val ancestors = landing.iterator.flatMap(_.ancestors).toSet
        val active = stamped.filterNot(m => ancestors(epochOf(m.name)))
        val epochs = active.map(m => epochOf(m.name)).toSet
        landing.filterNot(m => epochs(epochOf(m.name))) ++ active
      }
    }
  }

  /** At most this many commit markers of one commit are written at once. */
  private final val MarkerWriters = 8

  /** Run `write` on every marker of `ms`, up to [[MarkerWriters]] at a
    * time, and return once all of them are written: a marker is one small
    * file, and its cost is the filesystem's per-create round trip (on a
    * local disk without Hadoop's native library, the `chmod` forks for
    * the file and its `.crc`), not bandwidth. The first failure is
    * raised, after every started write has ended.
    */
  private def writeMarkers(ms: Seq[TableManifest])(write: TableManifest => Unit): Unit =
    if (ms.size <= 1) ms.foreach(write)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(MarkerWriters, ms.size))
      try {
        val pending = ms.map(m => pool.submit[Unit](() => write(m)))
        val failures = pending.flatMap { f =>
          try { f.get(); None }
          catch { case e: java.util.concurrent.ExecutionException => Some(e.getCause) }
        }
        failures.headOption.foreach(e => throw e)
      } finally pool.shutdown()
    }

  /** Delete the staged blocks of the given stages — an aborted write
    * epoch, a failed rewrite job, a failed upsert's source staging:
    * unreferenced (no index names them), but not left as garbage. The
    * match is ANCHORED (staged names are `part-<stage>-<digit>…`): a
    * substring or bare prefix test could sweep another stage whose name
    * extends this one; the prefix + leading-digit check can't.
    */
  def dropStaged(conf: Configuration, path: String, stages: String*): Unit = {
    val f = ContainerIO.fs(path, conf)
    val prefixes = stages.map(s => s"part-$s-")
    ContainerIO.listNames(conf, s"$path/blocks")
      .filter(n => prefixes.exists(p => n.startsWith(p) && n.length > p.length &&
        n.charAt(p.length).isDigit))
      .foreach(n => f.delete(new Path(s"$path/blocks/$n"), false))
  }
}

/** The task side of every graft write, batch and streaming alike:
  * each task stages one attempt-qualified container through a
  * [[GraftDataWriter]]. A batch task writes under the job's `epoch`; a
  * streaming task under its micro-batch's epoch, `<epoch>-e<epochId>`.
  */
class GraftWriterFactory(path: String, epoch: String,
                         shipped: Broadcast[ShippedConf], chunkRows: Int,
                         writeSchema: StructType,
                         partBy: Seq[GraftDataSource.PartTransform],
                         fullCols: Seq[(String, Int)])
    extends DataWriterFactory with StreamingDataWriterFactory {
  def epochOf(epochId: Long): String = s"$epoch-e$epochId"

  /** The job's configuration on the driver, for its commit or abort. */
  def conf: Configuration = shipped.value.conf

  private def writer(partitionId: Int, taskId: Long, taskEpoch: String) =
    new GraftDataWriter(path, partitionId, taskEpoch, shipped, chunkRows, taskId,
      writeSchema, partBy, fullCols)

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    writer(partitionId, taskId, epoch)

  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    writer(partitionId, taskId, epochOf(epochId))
}

/** Streams rows through the engine's [[ColumnarEngine.PartitionEncoder]]:
  * chunk-bounded memory; the container written in `commit()` stays
  * INVISIBLE until the job commit ([[GraftWrite.toBatch]]) publishes the
  * manifests.
  *
  * The staged name is ATTEMPT-qualified (`<epoch>-<part>-a<taskId>`): a
  * retry or speculative attempt stages its own container and its commit
  * message describes exactly those bytes, so the driver can never publish
  * a manifest whose CRCs/digest belong to a different attempt's file
  * (round 4's shared final name + first-commit-wins rename could, when
  * an attempt died between its rename and its commit message and row
  * order upstream was nondeterministic). A losing attempt's `abort`
  * deletes its own staged container; one that dies uncleanly leaves an
  * orphan that no manifest references — invisible to every read path and
  * swept by job-level `abort`.
  */
class GraftDataWriter(path: String, part: Int, epoch: String,
                      shipped: Broadcast[ShippedConf], chunkRows: Int,
                      taskId: Long,
                      writeSchema: StructType,
                      partBy: Seq[GraftDataSource.PartTransform],
                      fullCols: Seq[(String, Int)])
    extends DataWriter[InternalRow] {
  // field i of a written row is the encoder's live column i: fullCols
  // (round 9, tables with dropped positions) is the manifest's positional
  // chain incl. dropped placeholders, and its live columns are exactly
  // the write schema's, in order
  private val enc = new ColumnarEngine.PartitionEncoder(
    part, path, shipped.value.conf,
    partName = s"$epoch-$part-a$taskId", chunkRowsCap = chunkRows,
    schema = if (fullCols.isEmpty) GraftDataSource.specsOf(writeSchema)
      else fullCols.map { case (n, k) =>
        graft.engine.ColumnSpec.fromPacked(n, k) })
  private var n = 0L

  // bucket(n, col) transforms: observe each container's bucket-id set
  // (bounded by n entries) for manifest-recorded container elimination.
  // The id hashes the column's lane value — the constant type admission
  // will see
  private val bucketSpecs: Array[(Int, Int, Lane)] = partBy.collect {
    case GraftDataSource.BucketT(bn, c) =>
      val pos = writeSchema.fieldNames.indexOf(c)
      (pos, bn, enc.columns(pos).lane)
  }.toArray
  private val bucketSeen: Array[scala.collection.mutable.BitSet] =
    bucketSpecs.map(s => new scala.collection.mutable.BitSet(s._2))

  override def write(row: InternalRow): Unit = {
    var b = 0
    while (b < bucketSpecs.length) {
      val (pos, bn, lane) = bucketSpecs(b)
      if (!row.isNullAt(pos)) {
        val id = lane match {
          case Lane.Longs => GraftDataSource.bucketIdOfLong(row.getLong(pos), bn)
          case Lane.Ints => GraftDataSource.bucketIdOfInt(row.getInt(pos), bn)
          case _ => GraftDataSource.bucketIdOfUtf8(row.getUTF8String(pos), bn) // Lane.Bytes
        }
        bucketSeen(b) += id
      }
      b += 1
    }
    enc.putRow(row)
    n += 1
  }

  /** The unpublished manifest of this task's staged container — shared
    * by the DSv2 `commit()` and UPSERT, which stages its source through
    * this writer and lands it in its own [[GraftCommits.commit]].
    */
  private[sources] def commitManifest(): TableManifest =
    enc.finish().copy(
      partitioning = partBy.map(_.render),
      bucketIds = bucketSpecs.lazyZip(bucketSeen).map { case ((pos, _, _), seen) =>
        writeSchema.fields(pos).name -> seen.toSet
      }.toMap)

  override def commit(): WriterCommitMessage = GraftCommitMessage(commitManifest())

  /** Best-effort delete of this attempt's own staged container (present
    * only when `commit()` already ran but the driver discarded the
    * message — e.g. the losing side of speculation). The name is
    * attempt-unique, so nothing else can reference it.
    */
  override def abort(): Unit = {
    ContainerIO.fs(path, shipped.value.conf)
      .delete(new Path(s"$path/blocks/part-${enc.name}.gblk"), false)
    ()
  }
  override def close(): Unit = ()
}
