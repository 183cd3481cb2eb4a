package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expression, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.engine.{ChunkStats, ColumnarEngine, ColumnSpec, ContainerFormat, ContainerIO, DecodedChunk, DecodedColumn, DerivedRow, Kinds, Lane, Manifests, Stored, TableManifest}

/** `spark.read.format("graft")` / `df.write.format("graft")` — the
  * engine's container+manifest layout as a DataSource V2 table.
  *
  * Read side: input partitions are CHUNK ranges (the parquet row-group
  * shape) planned from the consolidated manifest index — one giant
  * container parallelizes across tasks, and zone-map skipping works at
  * chunk granularity. Pruning and filtering are pushed three ways:
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
    * the engine's fixed [[DerivedRow]] schema only as the default for
    * empty/absent tables.
    */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Option(options.get("path"))
      .map { p =>
        val conf = org.apache.spark.sql.SparkSession.active
          .sparkContext.hadoopConfiguration
        // a time-traveled read infers the PINNED snapshot's schema — an
        // older snapshot may predate added columns (add-only evolution)
        val snap = new TableSnapshot(p, ContainerIO.confSnapshot(conf),
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
  /** The engine's table schema ([[DerivedRow]] field order) — the
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
      conf: org.apache.hadoop.conf.Configuration,
      path: String): Option[Long] = {
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

  /** Rewrite pushed filters into the STORED domain, once, so every
    * downstream stage — zone-map admission, chunk pruning, runtime
    * filters, the row-level re-check — sees only lane-typed constants.
    * Each constant maps through its column kind's
    * [[graft.engine.Kind.storedRange]] (the range of stored values SQL
    * calls equal to it): an equality becomes that one value, or an IN
    * over the two of FLOAT ±0.0; a range bound takes the side that keeps
    * SQL semantics (the DECIMAL grid's floor/ceil), and only on ordered
    * kinds; IN drops members no stored value equals. A filter whose
    * constant does not translate (NaN, an unrepresentable equality, a
    * constant beyond long range, a non-ordered range) stays as pushed, so
    * [[pushable]] rejects it and Spark evaluates it residually.
    */
  private[sources] def translateFilters(filters: Array[Filter],
      layout: Map[String, ColumnSpec]): Array[Filter] = {
    def tr(f: Filter, s: ColumnSpec): Filter = {
      val k = Kinds(s.kind)
      def range(x: Any) = k.storedRange(x, s)
      // a constant's stored points: at most two adjacent values
      def points(r: (Long, Long)): Seq[AnyRef] =
        if (r._1 == r._2) Seq(k.box(r._1))
        else if (r._1 < r._2) Seq(k.box(r._1), k.box(r._2))
        else Nil
      f match {
        case EqualTo(c, x) => range(x).map(points) match {
          case Some(Seq(v)) => EqualTo(c, v)
          case Some(vs) if vs.nonEmpty => In(c, vs.toArray[Any])
          case _ => f
        }
        case GreaterThan(c, x) if k.ordered =>
          range(x).fold(f)(r => GreaterThan(c, k.box(r._2)))
        case GreaterThanOrEqual(c, x) if k.ordered =>
          range(x).fold(f)(r => GreaterThanOrEqual(c, k.box(r._1)))
        case LessThan(c, x) if k.ordered =>
          range(x).fold(f)(r => LessThan(c, k.box(r._1)))
        case LessThanOrEqual(c, x) if k.ordered =>
          range(x).fold(f)(r => LessThanOrEqual(c, k.box(r._2)))
        case In(c, vs) if vs.nonEmpty =>
          // a member beyond long range equals no stored value: dropping it
          // (an empty range) keeps IN exact
          val rs = vs.map { v =>
            try range(v) catch { case _: ArithmeticException => Some((1L, 0L)) }
          }
          val vals: Array[Any] =
            if (rs.forall(_.isDefined)) rs.flatMap(r => points(r.get)) else Array.empty
          if (vals.isEmpty) f else In(c, vals)
        case _ => f
      }
    }
    filters.map { f =>
      f.references match {
        case Array(c) if layout.contains(c) =>
          try tr(f, layout(c))
          catch { case _: ArithmeticException => f } // out-of-long constant
        case _ => f
      }
    }
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
  private[sources] def bucketIdOfString(v: String, n: Int): Int = {
    val u = UTF8String.fromString(v)
    pmodInt(org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
      u.getBaseObject, u.getBaseOffset, u.numBytes(), 42), n)
  }
  @inline private def pmodInt(h: Int, n: Int): Int = ((h % n) + n) % n

  /** Bucket id of a pushed filter constant for column `col` of a
    * manifest recording `n`-bucket ids; None = not a bucketable constant
    * (admit). Only kinds whose stored value is their Spark value can be
    * bucket columns ([[graft.engine.Kind.bucketable]]), so the
    * stored-domain translation never reaches here with a changed meaning.
    */
  private[sources] def bucketIdOfConstant(x: Any, n: Int): Option[Int] = x match {
    case v: java.lang.Long => Some(bucketIdOfLong(v.longValue(), n))
    case v: java.lang.Integer => Some(bucketIdOfInt(v.intValue(), n))
    case v: String => Some(bucketIdOfString(v, n))
    case _ => None
  }

  /** Is every long range / string dict / string range / null count proof
    * UNABLE to rule this chunk out? Unknown/absent stats admit (skip only
    * on PROOF). String ranges are recorded only for all-ASCII chunks,
    * where Java, UTF8String, and DuckDB collation agree. Null counts are
    * recorded for every nullable column (explicit zeros included), so
    * `IS NOT NULL` skips all-null chunks and `IS NULL` skips
    * fully-present ones; an ABSENT entry (a non-nullable column) admits.
    */
  private[sources] def admitChunk(c: ChunkStats, filters: Seq[Filter]): Boolean =
    admit(c.longRanges, filters) && admitProofs(c.rows,
      c.nullCounts.get(_).map(_.toLong), c.strDicts, c.strRanges, filters)

  /** The null-count and string dict/range proofs, written once for both
    * granularities: a chunk's own stats ([[admitChunk]]) and a
    * container's envelope fold ([[admitManifest]]). `nullCount` answers
    * None for a column without a recorded count (admit).
    */
  private def admitProofs(rows: Long, nullCount: String => Option[Long],
                          strDicts: Map[String, Seq[String]],
                          strRanges: Map[String, (String, String)],
                          filters: Seq[Filter]): Boolean = {
    def mayHold(col: String, v: String): Boolean =
      strDicts.get(col).forall(_.contains(v)) &&
        strRanges.get(col).forall { case (lo, hi) =>
          v.compareTo(lo) >= 0 && v.compareTo(hi) <= 0
        }
    filters.forall {
      case IsNotNull(col) => !nullCount(col).contains(rows)
      case IsNull(col) => nullCount(col).forall(_ > 0L)
      case EqualTo(col, v: String) => mayHold(col, v)
      case In(col, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
        vs.exists(x => mayHold(col, x.asInstanceOf[String]))
      case _ => true
    }
  }

  /** Numeric zone-map admission over one range map — a chunk's
    * ([[admitChunk]]) or a whole container's ([[admitManifest]]). Int
    * (kind 2) columns record their ranges in the same map; their filter
    * constants arrive as Integer. Double (kind 5) columns record ranges
    * over their order-preserving sortable-long mapping; a constant maps
    * to a [lo, hi] PAIR because ±0.0 are two storage values SQL calls
    * equal (NaN constants are never pushed — [[pushable]] excludes
    * them — so an unmapped constant just admits).
    */
  private[sources] def admit(ranges: Map[String, (Long, Long)],
                             filters: Seq[Filter]): Boolean = {
    // (vLo, vHi): the inclusive sortable range of storage values SQL
    // considers EQUAL to the constant — a single point for everything
    // except double ±0.0
    def num(x: Any): Option[(Long, Long)] = x match {
      case v: java.lang.Long => val l = v.longValue(); Some((l, l))
      case v: java.lang.Integer => val l = v.longValue(); Some((l, l))
      case v: java.lang.Double =>
        val d = v.doubleValue()
        if (d.isNaN) None
        else Some((
          graft.codecs.DoubleBits.toSortableLong(if (d == 0.0) -0.0 else d),
          graft.codecs.DoubleBits.toSortableLong(if (d == 0.0) 0.0 else d)))
      case _ => None
    }
    filters.forall {
      case EqualTo(c, x) if ranges.contains(c) && num(x).isDefined =>
        val (lo, hi) = ranges(c); val (vLo, vHi) = num(x).get
        vHi >= lo && vLo <= hi
      case GreaterThan(c, x) if ranges.contains(c) && num(x).isDefined =>
        ranges(c)._2 > num(x).get._2
      case GreaterThanOrEqual(c, x) if ranges.contains(c) && num(x).isDefined =>
        ranges(c)._2 >= num(x).get._1
      case LessThan(c, x) if ranges.contains(c) && num(x).isDefined =>
        ranges(c)._1 < num(x).get._1
      case LessThanOrEqual(c, x) if ranges.contains(c) && num(x).isDefined =>
        ranges(c)._1 <= num(x).get._2
      case In(c, vs) if ranges.contains(c) && vs.nonEmpty &&
          vs.forall(num(_).isDefined) =>
        val (lo, hi) = ranges(c)
        vs.exists(x => { val (vLo, vHi) = num(x).get; vHi >= lo && vLo <= hi })
      case _ => true
    }
  }

  /** A filter this source fully enforces (zone-map/dict chunk skip +
    * row-level re-check). Long comparisons and IN; string equality and
    * IN (`lang = 'en'`, `repo IN (...)` — inequality on strings stays in
    * Spark: collation-safe range proofs only hold for the ASCII-recorded
    * stats, not arbitrary row values). Double comparisons and IN push
    * against the sortable-long zone maps — except NaN constants, whose
    * Spark ordering (greater than everything, equal to itself) diverges
    * from both IEEE and the sortable mapping's tail; they stay in Spark.
    * IsNotNull/IsNull prune whole chunks via per-chunk null counts and
    * re-check against the validity bitmaps. Dispatch is on the column's
    * lane first, then on the filter shape; constants are already in the
    * stored domain ([[translateFilters]]).
    */
  private[sources] def pushable(f: Filter,
                                layout: Map[String, ColumnSpec]): Boolean =
    f.references match {
      case Array(c) if layout.contains(c) =>
        val lane = layout(c).lane
        def const(x: Any): Boolean = (lane, x) match {
          case (Lane.Longs, _: java.lang.Long) => true
          case (Lane.Ints, _: java.lang.Integer) => true
          case (Lane.Doubles, d: java.lang.Double) => !d.isNaN
          case (Lane.Bytes, _: String) => true
          case _ => false
        }
        def ordered(x: Any): Boolean = lane != Lane.Bytes && const(x)
        f match {
          case IsNull(_) | IsNotNull(_) => true
          case EqualTo(_, x) => const(x)
          case GreaterThan(_, x) => ordered(x)
          case GreaterThanOrEqual(_, x) => ordered(x)
          case LessThan(_, x) => ordered(x)
          case LessThanOrEqual(_, x) => ordered(x)
          case In(_, vs) => vs.nonEmpty && vs.forall(const)
          case _ => false
        }
      case _ => false
    }

  /** Compiled row-level predicate over a decoded chunk: the reader
    * enforces exactly what pushFilters claimed. Per chunk it looks up
    * its column once and returns the per-row test. String constants are
    * pre-encoded to UTF-8 ONCE and compared against the decoded slices —
    * no per-row String materialization. SQL null semantics: every
    * comparison/IN on a NULL row is not-true (the chunk's validity
    * bitmap gates each predicate), IsNull/IsNotNull test the bitmap
    * itself.
    */
  private[sources] type RowPred = DecodedChunk => (Int => Boolean)

  /** The inclusive [lo, hi] an integer comparison admits (empty when
    * lo > hi).
    */
  private def bounds(f: Filter, v: Any => Long): (Long, Long) = f match {
    case EqualTo(_, x) => val n = v(x); (n, n)
    case GreaterThan(_, x) =>
      val n = v(x); if (n == Long.MaxValue) (1L, 0L) else (n + 1, Long.MaxValue)
    case GreaterThanOrEqual(_, x) => (v(x), Long.MaxValue)
    case LessThan(_, x) =>
      val n = v(x); if (n == Long.MinValue) (1L, 0L) else (Long.MinValue, n - 1)
    case LessThanOrEqual(_, x) => (Long.MinValue, v(x))
    case _ => throw new IllegalStateException(s"unpushable filter $f")
  }

  private[sources] def compileFilters(filters: Array[Filter],
      layout: Map[String, ColumnSpec]): Array[RowPred] = filters.map { f =>
    val c = f.references.head
    val test: DecodedColumn => (Int => Boolean) =
      (layout(c).lane, f) match {
        case (_, IsNotNull(_)) => d => j => d.validAt(j)
        case (_, IsNull(_)) => d => j => !d.validAt(j)
        case (Lane.Longs, In(_, vs)) =>
          val set = vs.map(_.asInstanceOf[java.lang.Long].longValue()).toSet
          d => { val a = d.longs; j => set.contains(a(j)) }
        case (Lane.Longs, _) =>
          val (lo, hi) = bounds(f, _.asInstanceOf[java.lang.Long].longValue())
          d => { val a = d.longs; j => a(j) >= lo && a(j) <= hi }
        case (Lane.Ints, In(_, vs)) =>
          val set = vs.map(_.asInstanceOf[java.lang.Integer].intValue()).toSet
          d => { val a = d.ints; j => set.contains(a(j)) }
        case (Lane.Ints, _) =>
          val (lo, hi) = bounds(f, _.asInstanceOf[java.lang.Integer].longValue())
          d => { val a = d.ints; j => a(j) >= lo && a(j) <= hi }
        // doubles: IEEE comparisons except that a NaN ROW ranks above
        // every constant (Spark's total order); NaN CONSTANTS are never
        // pushed. IEEE == makes -0.0 = 0.0, matching SQL equality.
        case (Lane.Doubles, EqualTo(_, x: Double)) =>
          d => { val a = d.doubles; j => a(j) == x }
        case (Lane.Doubles, GreaterThan(_, x: Double)) =>
          d => { val a = d.doubles; j => a(j) > x || a(j).isNaN }
        case (Lane.Doubles, GreaterThanOrEqual(_, x: Double)) =>
          d => { val a = d.doubles; j => a(j) >= x || a(j).isNaN }
        case (Lane.Doubles, LessThan(_, x: Double)) =>
          d => { val a = d.doubles; j => a(j) < x }
        case (Lane.Doubles, LessThanOrEqual(_, x: Double)) =>
          d => { val a = d.doubles; j => a(j) <= x }
        case (Lane.Doubles, In(_, vs)) =>
          // an ARRAY scan with IEEE ==, not a Set: boxed-Double set
          // membership would miss -0.0 vs 0.0 (SQL calls them equal)
          val arr = vs.map(_.asInstanceOf[java.lang.Double].doubleValue())
          d => { val a = d.doubles; j => {
            val x = a(j)
            var i = 0
            var hit = false
            while (!hit && i < arr.length) { hit = x == arr(i); i += 1 }
            hit
          } }
        case (Lane.Bytes, EqualTo(_, x: String)) =>
          val b = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          d => { val u = d.bytes; j => u.equalsBytes(j, b) }
        case (Lane.Bytes, In(_, vs)) =>
          val bs = vs.map(_.asInstanceOf[String]
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          d => { val u = d.bytes; j => bs.exists(b => u.equalsBytes(j, b)) }
        case _ => throw new IllegalStateException(s"unpushable filter $f")
      }
    val gated = !f.isInstanceOf[IsNull] && !f.isInstanceOf[IsNotNull]
    ch => {
      val d = ch.col(c)
      val t = test(d)
      if (!gated || d.nulls == null) t else j => d.validAt(j) && t(j)
    }
  }

  /** Rewrite a pushed filter's column reference through a rename map
    * (current name -> a container's stored name, or the reverse). Only
    * the filter shapes this source ever pushes appear here.
    */
  private[sources] def renameRefs(f: Filter, m: Map[String, String]): Filter =
    if (m.isEmpty) f
    else f match {
      case EqualTo(c, v) => EqualTo(m.getOrElse(c, c), v)
      case GreaterThan(c, v) => GreaterThan(m.getOrElse(c, c), v)
      case GreaterThanOrEqual(c, v) => GreaterThanOrEqual(m.getOrElse(c, c), v)
      case LessThan(c, v) => LessThan(m.getOrElse(c, c), v)
      case LessThanOrEqual(c, v) => LessThanOrEqual(m.getOrElse(c, c), v)
      case In(c, vs) => In(m.getOrElse(c, c), vs)
      case IsNull(c) => IsNull(m.getOrElse(c, c))
      case IsNotNull(c) => IsNotNull(m.getOrElse(c, c))
      case other => other
    }

  /** Container-level admission against the index SUMMARY (round 8,
    * two-level metadata): the manifest's whole-partition zone maps plus
    * the [[graft.engine.ManifestEnvelope]] fold of its chunk stats.
    * Same proof discipline as [[admitChunk]] — absent stats admit —
    * at group granularity, so a pruned container's per-chunk detail is
    * NEVER read off storage.
    */
  private[sources] def admitManifest(m: TableManifest,
                                     filters: Seq[Filter]): Boolean = {
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
    def bucketAdmits(col: String, x: Any): Boolean =
      (for {
        n <- bucketN.get(col)
        ids <- m.bucketIds.get(col)
        b <- bucketIdOfConstant(x, n)
      } yield ids.contains(b)).getOrElse(true)
    val buckets = m.bucketIds.isEmpty || filters.forall {
      case EqualTo(col, x) => bucketAdmits(col, x)
      case In(col, vs) if vs.nonEmpty => vs.exists(bucketAdmits(col, _))
      case _ => true
    }
    buckets && admit(m.longRanges, filters) && admitProofs(m.rows,
      m.env.nullCounts.get, m.env.strDicts, m.env.strRanges, filters)
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
      filters: Array[Filter], maxSplitBytes: Long,
      neededCols: Set[String]): Array[InputPartition] = {
    val parts = Array.newBuilder[InputPartition]
    manifests.filterNot(_.schemaMarker).sortBy(_.name).foreach { m =>
      val file = m.blockFile(snap.path)
      // the reader translates between the query's CURRENT names and this
      // container's stored labels (rename support), and null-fills the
      // needed columns the container predates (add-only evolution: a
      // value filter on one already skipped the container whole, IsNull
      // on one is dropped reader-side by effectiveFilters)
      val v = snap.view(m, cols)
      val absent = neededCols.filterNot(v.covered)
      val admission = v.admission(filters.toSeq)
      if (admission.exists(admitManifest(m, _))) {
        val mFilters = admission.get
        val admitted = snap.hydrate(m).chunkIndex
          .filter(admitChunk(_, mFilters))
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

  /** Filters applicable inside a container that predates `absent`
    * columns: IsNull on an absent column is trivially TRUE (drop it);
    * any other filter referencing one matches nothing — planning
    * already skipped such containers, so reaching a reader with one is
    * a planner bug, not a data condition.
    */
  private[sources] def effectiveFilters(filters: Array[Filter],
      absent: Set[String]): Array[Filter] =
    if (absent.isEmpty) filters
    else {
      val kept = filters.filterNot(f =>
        f.isInstanceOf[IsNull] && f.references.exists(absent))
      kept.foreach(f => require(!f.references.exists(absent),
        s"planner bug: filter $f references a column this container " +
          s"predates (${absent.mkString(",")})"))
      kept
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
  private var pushed: Array[Filter] = Array.empty
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
    val conf = org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration
    new TableSnapshot(path, ContainerIO.confSnapshot(conf),
      GraftDataSource.asOfVersion(options, conf, path))
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
    // predicates are first rewritten into the stored domain, then the
    // lane pushdown machinery admits them; a filter whose translated
    // form is unpushable stays residual in its ORIGINAL form
    val (in, out) = filters.zip(GraftDataSource.translateFilters(filters, layout))
      .partition(p => GraftDataSource.pushable(p._2, layout))
    pushed = in.map(_._2)
    out.map(_._1)
    // fully enforced below: chunk zone-map skip + row-level check
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = {
    val maxSplit = Option(options.get("maxSplitBytes")).map(_.toLong)
      .getOrElse(GraftDataSource.DefaultMaxSplitBytes)
    val verify = Option(options.get("verifyContent")).forall(_.toBoolean)
    aggs match {
      case Some(specs) => new GraftAggScan(snap, cols, specs)
      case None => new GraftScan(snap, tableSchema.fieldNames.toSeq,
        required, pushed, limit, maxSplit, verify, layout)
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
                               digestCol: String = "content",
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
                                  initialFilters: Array[Filter], limit: Int,
                                  maxSplitBytes: Long, verifyContent: Boolean,
                                  layout: Map[String, ColumnSpec])
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering {
  private val cols = snap.chainOf(visNames)
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Compile-time pushed filters plus any runtime filters accepted in
    * [[filter]]; both chunk admission and the row-level re-check use the
    * combined set.
    */
  private var filters: Array[Filter] = initialFilters

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

  override def filter(runtime: Array[Filter]): Unit = {
    // runtime (DPP) filters arrive in LOGICAL form — translate to stored
    // constants like the builder did
    val accepted = GraftDataSource.translateFilters(runtime, layout)
      .filter(GraftDataSource.pushable(_, layout))
    filters = filters ++ accepted
  }

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
        snap.view(m, cols).admission(filters.toSeq) match {
          case None => 0L
          case Some(mFilters) =>
            if (m.chunksElided)
              if (GraftDataSource.admitManifest(m, mFilters)) m.rows else 0L
            else
              m.chunkIndex.filter(GraftDataSource.admitChunk(_, mFilters))
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
      s"PushedFilters: [${filters.mkString(", ")}]" +
      (if (limit != Int.MaxValue) s", PushedLimit: $limit" else "")

  /** Chunk-granular splits: admitted chunks of each committed container
    * grouped into runs of ≤ maxSplitBytes — a single giant container
    * parallelizes across tasks, and a selective filter decodes only the
    * chunks its zone maps/dicts admit. Containers without a manifest are
    * ORPHANS of failed writes and are never planned (the manifest is the
    * commit marker on the read side too).
    */
  override def planInputPartitions(): Array[InputPartition] =
    GraftDataSource.planPartitions(snap, snap.committed, cols, filters,
      maxSplitBytes, required.fieldNames.toSet ++ filters.flatMap(_.references))

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(required, filters, layout, snap.confKv, limit,
      verifyContent)

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
      filters, snap.confKv, maxSplitBytes, verifyContent, layout, visNames)
  }
}

class GraftReaderFactory(required: StructType, filters: Array[Filter],
                         layout: Map[String, ColumnSpec],
                         confKv: Map[String, String], limit: Int,
                         verifyContent: Boolean)
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
      required, filters, layout, confKv, limit, verifyContent)
}

/** Streaming chunk iteration for the reader: per chunk, `needed` column
  * blocks (current name -> lane) are read (bounded by one block at a
  * time) and decoded, the rest are position advances; reads that decode
  * `digestCol` verify the chunk digest ("" = never verify).
  */
private[sources] final class ChunkCursor(
    file: String, chunks: Seq[ChunkSpec], needed: Map[String, Lane],
    confKv: Map[String, String], digestCol: String,
    renames: Map[String, String]) {

  private val verify =
    digestCol.nonEmpty && needed.get(digestCol).contains(Lane.Bytes)

  /** Re-key a decoded chunk's columns stored -> current. Two-phase
    * (remove all, then insert) so a SWAP rename (a<->b across two
    * renames) can't clobber one side mid-move.
    */
  private def rekey(c: DecodedChunk): DecodedChunk = {
    val moved = new java.util.HashMap[String, DecodedColumn]()
    renames.foreach { case (cur, stored) =>
      if (cur != stored) {
        val v = c.cols.remove(stored)
        if (v != null) moved.put(cur, v)
      }
    }
    c.cols.putAll(moved)
    c
  }

  /** A scan planned from a prior index snapshot can race an overwrite,
    * epoch replay, or compaction that deletes the old generation's block
    * files after its new snapshot goes live. That is a CONTROLLED
    * condition — the table is fine, this reader's snapshot is stale —
    * so it must surface as a retriable snapshot-superseded error, never
    * a raw FileNotFoundException (every other corruption path here is
    * require-guarded the same way).
    */
  private val (in, fileLen) =
    try ContainerFormat.open(file, ContainerIO.confFrom(confKv))
    catch { case _: java.io.FileNotFoundException =>
      throw new IllegalStateException(
        s"graft snapshot superseded: $file was removed by a concurrent " +
          "overwrite/compaction after this scan was planned — re-run the query")
    }

  val chunkIter: Iterator[DecodedChunk] = {
    // rename support: the query works in CURRENT names, this container's
    // blocks are keyed by its stored names — request stored, then re-key
    // each decoded chunk back to current before anything row-level runs
    val stored = needed.map { case (c, l) => renames.getOrElse(c, c) -> l }
    val raw0 = ContainerFormat.chunks(in, fileLen, file, chunks, stored)
    val raw = if (renames.isEmpty) raw0 else raw0.map(rekey)
    if (!verify) raw
    else raw.map { c => ContainerFormat.verifyContentDigest(c, digestCol); c }
  }

  def close(): Unit = in.close()
}

/** The DSv2 reader: one `ColumnarBatch` per (filtered) chunk, filled
  * straight from the decoded column arrays. Pushed filters are re-checked
  * per row; reads that decode the digest column verify the chunk digest.
  */
class GraftColumnarReader(p: GraftInputPartition, required: StructType,
                          filters: Array[Filter],
                          layout: Map[String, ColumnSpec],
                          confKv: Map[String, String],
                          limit: Int, verifyContent: Boolean)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  // schema evolution: this container predates `absentCols` — their rows
  // are all-NULL here. IsNull on them is trivially true (dropped from
  // the compiled predicates); planning skipped containers any other
  // filter on them would empty; the cursor must not request their blocks.
  private val effFilters = GraftDataSource.effectiveFilters(filters, p.absentCols)
  private val cursor = new ChunkCursor(p.file, p.chunks,
    ((required.fieldNames ++ effFilters.flatMap(_.references)).toSet -- p.absentCols)
      .map(c => c -> layout(c).lane).toMap,
    confKv, if (verifyContent) p.digestCol else "", p.renames)
  private val preds = GraftDataSource.compileFilters(effFilters, layout)
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
      val tests = preds.map(_(chunk))
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
          val v = new OnHeapColumnVector(m, fields(i).dataType)
          if (fieldAbsent(i)) v.putNulls(0, m)
          else Kinds(specs(i).kind).fill(v, chunk.col(fields(i).name), sel, m, specs(i))
          vecs(i) = v
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
                            filters: Array[Filter],
                            confKv: Map[String, String],
                            maxSplitBytes: Long, verifyContent: Boolean,
                            layout: Map[String, ColumnSpec],
                            visNames: Seq[String] = Nil)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private val conf = ContainerIO.confFrom(confKv)
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
    lastSnap = new TableSnapshot(path, confKv)
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
      snap.chainOf(visNames), filters, maxSplitBytes,
      required.fieldNames.toSet ++ filters.flatMap(_.references))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(required, filters, layout, confKv, Int.MaxValue,
      verifyContent)

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
      ContainerIO.listNames(conf, logDir).foreach {
        case n @ LogName(b) if b.toLong <= top =>
          f.delete(new org.apache.hadoop.fs.Path(s"$logDir/$n"), false)
        case n @ CompactName(b) if b.toLong < top =>
          f.delete(new org.apache.hadoop.fs.Path(s"$logDir/$n"), false)
        case _ => ()
      }
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
      ContainerIO.confSnapshot(org.apache.spark.sql.SparkSession.active
        .sparkContext.hadoopConfiguration))).filter(_.exists)
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
  private def prepare(): Map[String, String] = {
    val conf = org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration
    ContainerIO.mkdirs(conf, s"$path/blocks")
    ContainerIO.mkdirs(conf, s"$path/manifests")
    ContainerIO.confSnapshot(conf)
  }

  override def toBatch: BatchWrite =
    new GraftBatchWrite(path, truncate, epoch, prepare(), chunkRows,
      writeSchema, partBy, fullCols)

  /** `writeStream.format("graft")` — append-only micro-batch sink. Each
    * micro-batch commits as one epoch (`<queryId>-e<epochId>`), so a
    * replayed batch after a failure re-stages identical containers under
    * identical names (first-commit-wins) and re-publishes the same
    * manifests: the sink is idempotent per epoch, which with the
    * checkpointed epoch id gives effective exactly-once table contents.
    */
  override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    require(!truncate,
      "graft streaming sink is append-only (outputMode(\"append\"))")
    new GraftStreamingWrite(path, epoch, prepare(), chunkRows, writeSchema,
      partBy, fullCols)
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

  /** Publish one job's (or micro-batch's) staged containers: write the
    * manifests (commit markers) first, then commit the new consolidated
    * index snapshot via OCC ([[Manifests.commitIndex]] — safe against a
    * concurrent append or streaming epoch), and only AFTER the new
    * snapshot is live delete the generations this commit replaced
    * (everything on truncate; the previous generation of each published
    * EPOCH otherwise). Re-publishing an epoch is idempotent BY EPOCH:
    * the replay's containers replace the original generation WHOLE,
    * regardless of how the replay re-partitioned the epoch's rows —
    * and when the original generation was COMPACTED away
    * ([[GraftMaintenance.compact]] records the consumed logical names
    * as the compacted manifest's `ancestors`), the replay is DROPPED
    * instead of appended: its rows already live inside the compacted
    * container, so re-adding them would double every row of the epoch.
    *
    * Each [[GraftCommitMessage]] carries its task's unpublished
    * [[TableManifest]]; publish stamps the commit generation onto it
    * (`copy(commitId, commitParts)`), writes it as the commit marker,
    * and the OCC transform works on the typed snapshot.
    */
  def publish(confKv: Map[String, String], path: String, truncate: Boolean,
              messages: Array[WriterCommitMessage]): Unit = {
    val conf = ContainerIO.confFrom(confKv)
    // one commit-generation stamp for everything this publish lands: the
    // listing-fallback normalizer selects WHOLE generations by it when a
    // crash window leaves two generations of an epoch on disk, and the
    // per-epoch container count lets it tell a complete generation from
    // a publish that crashed mid-way through its manifest writes
    val commitId = Manifests.newCommitId(conf, path)
    def epochOf(name: String) = Manifests.epochKey(Manifests.logicalName(name))
    val raw = messages.collect {
      case m: GraftCommitMessage if m.manifest.rows > 0 => m.manifest
    }.sortBy(_.name)
    val epochParts = raw.groupBy(m => epochOf(m.name)).view.mapValues(_.length).toMap
    val fresh = raw.map(m =>
      m.copy(commitId = commitId, commitParts = epochParts(epochOf(m.name))))
    if (fresh.isEmpty && !truncate) return
    fresh.foreach(Manifests.writeManifest(conf, path, _, 0L))
    // names among `fresh` whose EPOCH was already folded into a live
    // compacted container — decided against the snapshot the WINNING
    // commit attempt saw (set by the last transform run). Matching is
    // epoch-granular ([[Manifests.epochKey]]): a replay may run with a
    // different partition count, so per-container matching would drop
    // only the name-colliding part and append the rest as duplicates.
    // Compaction consumes only WHOLE epochs (GraftMaintenance), so an
    // ancestor epoch key always means "every row of that epoch lives in
    // a compacted generation".
    @volatile var droppedReplays = Set.empty[String]
    @volatile var priorNames = Seq.empty[String]
    // priorNames captures the snapshot the winning commit superseded —
    // exactly the state this commit's deletes must be judged against
    val newSchema = fresh.headOption.map(_.schemaCols).getOrElse(Nil)
    try Manifests.commitIndex(conf, path, old => {
      priorNames = old.map(_.name)
      if (!truncate) checkSchema(path, old, newSchema)
      val liveAncestors: Set[String] =
        if (truncate) Set.empty else old.flatMap(_.ancestors).toSet
      val (replays, active) = fresh.partition(m => liveAncestors(epochOf(m.name)))
      droppedReplays = replays.map(_.name).toSet
      // replacement is EPOCH-granular too: a replayed epoch may
      // re-partition the same rows, so per-logical-name replacement
      // would leave the old generation's surplus partitions alongside
      // the full replay — duplicates. Publishing an epoch replaces
      // EVERY container of its previous generation.
      val activeEpochs = active.map(m => epochOf(m.name)).toSet
      val kept =
        if (truncate) Nil else old.filterNot(m => activeEpochs(epochOf(m.name)))
      kept ++ active
    })
    catch {
      case e: SchemaEvolutionConflict =>
        // the commit markers written above must not linger: invisible to
        // index reads (never committed) but the listing fallback and
        // schema inference would trip over them
        val f = ContainerIO.fs(path, conf)
        fresh.foreach(m => Manifests.deleteContainer(f, path, m.name))
        throw e
    }
    val activeNames = fresh.map(_.name).toSet -- droppedReplays
    val activeEpochs = activeNames.map(epochOf)
    def replaced(name: String): Boolean =
      !activeNames.contains(name) && (truncate || activeEpochs.contains(epochOf(name)))
    val doomed = priorNames.filter(replaced)
    val f = ContainerIO.fs(path, conf)
    doomed.foreach(Manifests.deleteContainer(f, path, _))
    // a dropped replay's staged container + just-written manifest file
    // are dead weight (its rows live in the compacted generation)
    droppedReplays.foreach(Manifests.deleteContainer(f, path, _))
  }

  /** Drop an aborted epoch's staged containers (unreachable anyway — no
    * manifest — but don't leave them as garbage).
    */
  def dropStaged(confKv: Map[String, String], path: String, epoch: String): Unit = {
    val conf = ContainerIO.confFrom(confKv)
    val f = ContainerIO.fs(path, conf)
    // ANCHORED match (staged names are `part-<epoch>-<part>-a<task>`): a
    // substring test could sweep another epoch whose name embeds this
    // one; the prefix + leading-digit check can't
    val prefix = s"part-$epoch-"
    ContainerIO.listNames(conf, s"$path/blocks")
      .filter(n => n.startsWith(prefix) && n.length > prefix.length &&
        n.charAt(prefix.length).isDigit)
      .foreach(n => f.delete(new org.apache.hadoop.fs.Path(s"$path/blocks/$n"), false))
  }
}

/** Job-level commit: tasks publish only attempt-qualified CONTAINERS
  * (invisible to readers — no manifest); this commit writes every
  * manifest plus a new OCC-committed `_manifest-index.v<N>.json`
  * snapshot, and — for overwrite — deletes the old generation only
  * AFTER the new one is live. A failed/killed job leaves the previous
  * table fully intact; `abort` garbage-collects this epoch's staged
  * containers.
  */
class GraftBatchWrite(path: String, truncate: Boolean, epoch: String,
                      confKv: Map[String, String], chunkRows: Int,
                      writeSchema: StructType,
                      partBy: Seq[GraftDataSource.PartTransform],
                      fullCols: Seq[(String, Int)])
    extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftWriterFactory(path, epoch, confKv, chunkRows, writeSchema, partBy,
      fullCols)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    GraftCommits.publish(confKv, path, truncate, messages)

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftCommits.dropStaged(confKv, path, epoch)
}

/** Micro-batch streaming sink: every epoch appends via the same staged
  * containers + manifest publication as a batch append.
  */
class GraftStreamingWrite(path: String, queryEpoch: String,
                          confKv: Map[String, String], chunkRows: Int,
                          writeSchema: StructType,
                          partBy: Seq[GraftDataSource.PartTransform],
                          fullCols: Seq[(String, Int)])
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private def epochOf(epochId: Long) = s"$queryEpoch-e$epochId"

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new GraftStreamingWriterFactory(path, queryEpoch, confKv, chunkRows,
      writeSchema, partBy, fullCols)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    GraftCommits.publish(confKv, path, truncate = false, messages)

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    GraftCommits.dropStaged(confKv, path, epochOf(epochId))
}

class GraftStreamingWriterFactory(path: String, queryEpoch: String,
                                  confKv: Map[String, String], chunkRows: Int,
                                  writeSchema: StructType,
                                  partBy: Seq[GraftDataSource.PartTransform],
                                  fullCols: Seq[(String, Int)])
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(path, partitionId, s"$queryEpoch-e$epochId", confKv,
      chunkRows, taskId, writeSchema, partBy, fullCols)
}

class GraftWriterFactory(path: String, epoch: String,
                         confKv: Map[String, String], chunkRows: Int,
                         writeSchema: StructType,
                         partBy: Seq[GraftDataSource.PartTransform],
                         fullCols: Seq[(String, Int)])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(path, partitionId, epoch, confKv, chunkRows, taskId,
      writeSchema, partBy, fullCols)
}

/** Streams rows through the engine's [[ColumnarEngine.PartitionEncoder]]:
  * chunk-bounded memory; the container written in `commit()` stays
  * INVISIBLE until [[GraftBatchWrite.commit]] publishes the manifests.
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
                      confKv: Map[String, String], chunkRows: Int,
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
    part, path, ContainerIO.confFrom(confKv),
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
          case _ => GraftDataSource.bucketIdOfString( // Lane.Bytes
            row.getUTF8String(pos).toString, bn)
        }
        bucketSeen(b) += id
      }
      b += 1
    }
    enc.putRow(row)
    n += 1
  }

  /** The unpublished manifest of this task's staged container — shared
    * by the DSv2 `commit()` and the maintenance paths (upsert) that
    * stage appends under their own OCC swap instead of
    * [[GraftCommits.publish]].
    */
  private[sources] def commitManifest(): TableManifest =
    enc.finish(publishManifest = false).copy(
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
    val conf = ContainerIO.confFrom(confKv)
    ContainerIO.fs(path, conf).delete(
      new org.apache.hadoop.fs.Path(s"$path/blocks/part-${enc.name}.gblk"), false)
    ()
  }
  override def close(): Unit = ()
}
