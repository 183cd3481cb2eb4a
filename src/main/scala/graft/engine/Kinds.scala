package graft.engine

import scala.annotation.switch

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarArray, ColumnarMap, ColumnVector}
import org.apache.spark.unsafe.types.UTF8String

import graft.codecs.{BytesCodecs, DoubleBits, FloatBits, IntCodecs, LongCodecs, StringCodecs}

/** How a kind's values sit in its column blocks. `weight` ranks the
  * forms by decode cost (a count-only scan reads the lightest column).
  */
private[graft] sealed abstract class Stored(val weight: Int)

private[graft] object Stored {
  /** int64 through the stats-selected long codecs. */
  case object WideLong extends Stored(0)
  /** int32 through the same stats-selected long codecs, behind the
    * overflow-checked narrow decode ([[graft.codecs.IntCodecs]]); an
    * out-of-i32 put is rejected.
    */
  case object NarrowInt extends Stored(0)
  case object Utf8 extends Stored(1)
  /** Length-prefixed blobs. */
  case object Binary extends Stored(2)
  /** Per-row dims + packed little-endian floats. */
  case object FloatArray extends Stored(2)
}

/** One column kind: its Spark type, stored form, decoded [[Lane]] and the
  * conversions between Spark values and stored values. The entries live
  * in [[Kinds]]; a kind's decisions are fields and methods here, so no
  * other file switches on the kind number.
  *
  * @param ordered stored order is SQL order: range filters push down,
  *   their constants translate, and MIN/MAX answer from the zone maps
  * @param keyable values compare exactly by their stored form (upsert keys)
  * @param temporal a `days(col)` write-partition source
  * @param bucketable a `bucket(n, col)` write-partition source (the
  *   writer hashes the lane value)
  */
private[graft] sealed abstract class Kind(val id: Int, val sparkType: DataType,
    val stored: Stored, val lane: Lane, val ordered: Boolean,
    val keyable: Boolean, val temporal: Boolean, val bucketable: Boolean)
    extends Serializable {

  def dataType(s: ColumnSpec): DataType = sparkType

  /** Is `dt` a Spark type this kind stores? */
  def accepts(dt: DataType): Boolean = dt == sparkType

  /** The spec of field `f`, whose type this kind accepts. */
  def specOf(f: StructField): ColumnSpec = ColumnSpec(f.name, id, f.nullable)

  /** Rejects type parameters this kind can't hold. */
  def check(s: ColumnSpec): Unit = ()

  /** Pushed constant -> the inclusive range [lo, hi] of stored values SQL
    * calls equal to it: one value for most constants, two adjacent ones
    * for FLOAT ±0.0, none (lo > hi) for a DECIMAL finer than the column's
    * scale. None: `x` stays as pushed — it already is a lane value, or it
    * has no sound stored form (NaN). May throw ArithmeticException for a
    * constant beyond long range.
    */
  def storedRange(x: Any, s: ColumnSpec): Option[(Long, Long)] = None

  /** A stored integer as its lane's boxed constant. */
  final def box(v: Long): AnyRef =
    if (lane == Lane.Ints) java.lang.Integer.valueOf(v.toInt)
    else java.lang.Long.valueOf(v)

  /** The equality form of [[storedRange]]: the one stored value equal to
    * `x` (an upsert key).
    */
  final def storedValue(x: Any, s: ColumnSpec): Any = storedRange(x, s) match {
    case None => x
    case Some((lo, hi)) =>
      require(lo == hi, s"$x has no single stored value in column '${s.name}'")
      box(lo)
  }

  /** A value block (from `off`, past any validity prefix) -> this kind's
    * lane array.
    */
  def decode(block: Array[Byte], off: Int): AnyRef = stored match {
    case Stored.WideLong => LongCodecs.decodeSlice(block, off, block.length)
    case Stored.NarrowInt => IntCodecs.decodeSlice(block, off, block.length)
    case Stored.Utf8 => StringCodecs.decodeSliceUtf8(block, off, block.length)
    case Stored.Binary => BytesCodecs.decodeBinary(block, off, block.length)
    case Stored.FloatArray => BytesCodecs.decodeFloats(block, off, block.length)
  }

  /** The selected rows `sel(0 until m)` of a decoded column as one
    * batch's vector of [[dataType]]; NULL rows are vector nulls, their
    * placeholder values never surface. Byte-slice lanes (STRING, BINARY)
    * are read in place ([[SliceVector]]); every other lane is copied by
    * [[fill]].
    */
  final def vector(col: DecodedColumn, sel: Array[Int], m: Int,
                   s: ColumnSpec): ColumnVector =
    if (lane == Lane.Bytes) new SliceVector(dataType(s), col, sel, m)
    else {
      val v = new OnHeapColumnVector(m, dataType(s))
      fill(v, col, sel, m, s)
      v
    }

  /** Copy the selected rows of a decoded numeric or float-array column
    * into `v` ([[vector]]). The vector's static type is the final class,
    * so its puts bind directly inside the per-row loops.
    */
  protected def fill(v: OnHeapColumnVector, col: DecodedColumn, sel: Array[Int],
                     m: Int, s: ColumnSpec): Unit = lane match {
    case Lane.Longs =>
      val src = col.longs
      var k = 0
      while (k < m) {
        val r = sel(k)
        if (!col.validAt(r)) v.putNull(k) else v.putLong(k, src(r))
        k += 1
      }
    case Lane.Ints =>
      val src = col.ints
      var k = 0
      while (k < m) {
        val r = sel(k)
        if (!col.validAt(r)) v.putNull(k) else v.putInt(k, src(r))
        k += 1
      }
    case Lane.Doubles =>
      val src = col.doubles
      var k = 0
      while (k < m) {
        val r = sel(k)
        if (!col.validAt(r)) v.putNull(k) else v.putDouble(k, src(r))
        k += 1
      }
    case Lane.Bytes =>
      throw new IllegalStateException("byte slices are read in place (SliceVector)")
    case Lane.Floats =>
      // one float child vector per batch, each row an (offset, length)
      // view into it
      val fc = col.floats
      val child = v.arrayData()
      var total = 0
      var k = 0
      while (k < m) {
        if (col.validAt(sel(k))) total += fc.lens(sel(k))
        k += 1
      }
      child.reserve(total)
      var off = 0
      k = 0
      while (k < m) {
        val r = sel(k)
        if (!col.validAt(r)) v.putNull(k)
        else {
          child.putFloats(off, fc.lens(r), fc.pool, fc.offsets(r))
          v.putArray(k, off, fc.lens(r))
          off += fc.lens(r)
        }
        k += 1
      }
  }

  /** Row j of a decoded column in Spark's internal representation — the
    * row a stored-row predicate or UPDATE evaluates. UTF-8 strings are
    * views over the decoded pool.
    */
  def internalValue(s: ColumnSpec): (DecodedColumn, Int) => Any = lane match {
    case Lane.Longs => (d, j) => d.longs(j)
    case Lane.Ints => (d, j) => d.ints(j)
    case Lane.Doubles => (d, j) => d.doubles(j)
    case Lane.Bytes => (d, j) => {
      val u = d.bytes
      UTF8String.fromBytes(u.pool, u.offsets(j), u.lens(j))
    }
    case Lane.Floats => (d, j) =>
      UnsafeArrayData.fromPrimitiveArray(d.floats.slice(j))
  }

  /** A zone-map bound (kept as a long) as the value MIN/MAX return. */
  def zoneValue(v: Long, s: ColumnSpec): Any = box(v)

  /** `InternalRow` field `c` (non-null) -> the encoder's put for column
    * `c`. One switch on the entry id rather than an overridden method:
    * this runs per row and column, where a virtual call across eleven
    * entries would be megamorphic.
    */
  final def putField(enc: ColumnarEngine.PartitionEncoder, c: Int,
                     row: InternalRow, s: ColumnSpec): Unit = (id: @switch) match {
    case 0 | 3 => enc.putLong(c, row.getLong(c))
    case 2 | 4 => enc.putLong(c, row.getInt(c).toLong)
    case 5 => enc.putLong(c, DoubleBits.toSortableLong(row.getDouble(c)))
    case 8 => enc.putLong(c, row.getDecimal(c, s.precision, s.scale).toUnscaledLong)
    case 9 => enc.putLong(c, if (row.getBoolean(c)) 1L else 0L)
    case 10 => enc.putLong(c, FloatBits.toSortableInt(row.getFloat(c)).toLong)
    case 1 => enc.putUtf8(c, row.getUTF8String(c))
    case 6 => enc.putBinary(c, row.getBinary(c))
    case 7 => enc.putFloats(c, row.getArray(c))
  }
}

/** The column kinds. A kind's number is its container byte and its
  * manifest schema entry, so entries are never renumbered.
  *
  * | kind | Spark type     | stored form     | lane       | pushable          | keyable | MIN/MAX      |
  * |------|----------------|-----------------|------------|-------------------|---------|--------------|
  * | 0    | BIGINT         | wide long       | Longs      | =, IN, ranges     | yes     | yes          |
  * | 1    | STRING         | UTF-8           | Bytes      | =, IN             | yes     | ASCII-proved |
  * | 2    | INT            | narrow i32      | Ints       | =, IN, ranges     | yes     | yes          |
  * | 3    | TIMESTAMP_NTZ  | wide long       | Longs      | =, IN, ranges     | yes     | yes          |
  * | 4    | DATE           | narrow i32      | Ints       | =, IN, ranges     | yes     | yes          |
  * | 5    | DOUBLE         | wide long       | Doubles    | =, IN, ranges     | no      | yes          |
  * | 6    | BINARY         | binary          | Bytes      | —                 | no      | no           |
  * | 7    | ARRAY<FLOAT>   | float array     | Floats     | —                 | no      | no           |
  * | 8    | DECIMAL(p<=18) | wide long       | Longs      | =, IN, ranges     | yes     | yes          |
  * | 9    | BOOLEAN        | wide long       | Ints       | =, IN             | yes     | no           |
  * | 10   | FLOAT          | narrow i32      | Ints       | =, IN, ranges     | no      | yes          |
  *
  * Stored values: TIMESTAMP_NTZ = micros since the epoch, DATE = epoch
  * days, DOUBLE/FLOAT = order-preserving sortable bits
  * ([[graft.codecs.DoubleBits]]/[[graft.codecs.FloatBits]]; DOUBLE decodes
  * back to doubles, FLOAT stays bits in its lane), DECIMAL = the unscaled
  * long (precision/scale ride in the spec), BOOLEAN = 0/1 (bit-packs to
  * ~1 bit per row). Every kind also pushes IS [NOT] NULL; NaN constants
  * never push. Pushed constants are translated into the stored domain
  * once, up front ([[Kind.storedRange]]), so zone maps, runtime filters
  * and the row check only see lane-typed constants. String MIN/MAX is
  * answered only for non-nullable columns whose every chunk recorded an
  * all-ASCII range (where Java, UTF8String and DuckDB collation agree).
  */
private[graft] object Kinds {
  object BIGINT extends Kind(0, LongType, Stored.WideLong, Lane.Longs,
    ordered = true, keyable = true, temporal = false, bucketable = true)

  object STRING extends Kind(1, StringType, Stored.Utf8, Lane.Bytes,
    ordered = false, keyable = true, temporal = false, bucketable = true)

  object INT extends Kind(2, IntegerType, Stored.NarrowInt, Lane.Ints,
    ordered = true, keyable = true, temporal = false, bucketable = true)

  object TIMESTAMP_NTZ extends Kind(3, TimestampNTZType, Stored.WideLong,
      Lane.Longs, ordered = true, keyable = true, temporal = true,
      bucketable = false) {
    override def storedRange(x: Any, s: ColumnSpec): Option[(Long, Long)] = x match {
      case t: java.time.LocalDateTime =>
        val m = t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000L
        Some((m, m))
      case _ => None
    }
  }

  object DATE extends Kind(4, DateType, Stored.NarrowInt, Lane.Ints,
      ordered = true, keyable = true, temporal = true, bucketable = false) {
    // DATE constants arrive as java.sql.Date or LocalDate, by the
    // session's Java-8-API flag
    override def storedRange(x: Any, s: ColumnSpec): Option[(Long, Long)] = x match {
      case d: java.time.LocalDate => Some((d.toEpochDay, d.toEpochDay))
      case d: java.sql.Date =>
        val v = d.toLocalDate.toEpochDay
        Some((v, v))
      case _ => None
    }
  }

  object DOUBLE extends Kind(5, DoubleType, Stored.WideLong, Lane.Doubles,
      ordered = true, keyable = false, temporal = false, bucketable = false) {
    override def decode(block: Array[Byte], off: Int): AnyRef =
      LongCodecs.decodeDoubles(block, off, block.length)
    override def zoneValue(v: Long, s: ColumnSpec): Any =
      java.lang.Double.valueOf(DoubleBits.fromSortableLong(v))
  }

  object BINARY extends Kind(6, BinaryType, Stored.Binary, Lane.Bytes,
      ordered = false, keyable = false, temporal = false, bucketable = false) {
    override def internalValue(s: ColumnSpec): (DecodedColumn, Int) => Any =
      (d, j) => {
        val u = d.bytes
        java.util.Arrays.copyOfRange(u.pool, u.offsets(j), u.offsets(j) + u.lens(j))
      }
  }

  object FLOAT_ARRAY extends Kind(7, ArrayType(FloatType, containsNull = false),
      Stored.FloatArray, Lane.Floats, ordered = false, keyable = false,
      temporal = false, bucketable = false) {
    override def accepts(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
  }

  // the type parameters come from the spec: dataType/accepts override
  object DECIMAL extends Kind(8, DecimalType.SYSTEM_DEFAULT, Stored.WideLong,
      Lane.Longs, ordered = true, keyable = true, temporal = false,
      bucketable = false) {
    override def dataType(s: ColumnSpec): DataType = DecimalType(s.precision, s.scale)
    override def accepts(dt: DataType): Boolean = dt.isInstanceOf[DecimalType]
    // p <= 18 is exactly what a long's 63 bits hold
    override def specOf(f: StructField): ColumnSpec = {
      val d = f.dataType.asInstanceOf[DecimalType]
      if (d.precision > 18) throw new IllegalArgumentException(
        s"graft DECIMAL columns support precision <= 18 (long-backed); " +
          s"column '${f.name}' is $d")
      ColumnSpec(f.name, id, f.nullable, d.precision, d.scale)
    }
    override def check(s: ColumnSpec): Unit =
      require(s.precision >= 1 && s.precision <= 18 &&
        s.scale >= 0 && s.scale <= s.precision,
        s"decimal kind needs 1 <= precision <= 18 and 0 <= scale <= precision, " +
          s"got (${s.precision}, ${s.scale})")
    // a constant off the column's grid becomes its grid neighbours
    // (ceil, floor): comparisons keep their meaning, an equality matches
    // nothing (lo > hi)
    override def storedRange(x: Any, s: ColumnSpec): Option[(Long, Long)] = x match {
      case bd: java.math.BigDecimal =>
        def at(mode: java.math.RoundingMode): Long =
          bd.setScale(s.scale, mode).unscaledValue().longValueExact()
        Some((at(java.math.RoundingMode.CEILING), at(java.math.RoundingMode.FLOOR)))
      case _ => None
    }
    override protected def fill(v: OnHeapColumnVector, col: DecodedColumn,
                      sel: Array[Int], m: Int, s: ColumnSpec): Unit = {
      val src = col.longs
      var k = 0
      while (k < m) {
        val r = sel(k)
        if (!col.validAt(r)) v.putNull(k)
        else v.putDecimal(k, Decimal.createUnsafe(src(r), s.precision, s.scale), s.precision)
        k += 1
      }
    }
    override def internalValue(s: ColumnSpec): (DecodedColumn, Int) => Any =
      (d, j) => Decimal.createUnsafe(d.longs(j), s.precision, s.scale)
    override def zoneValue(v: Long, s: ColumnSpec): Any =
      Decimal.createUnsafe(v, s.precision, s.scale)
  }

  object BOOLEAN extends Kind(9, BooleanType, Stored.WideLong, Lane.Ints,
      ordered = false, keyable = true, temporal = false, bucketable = false) {
    override def storedRange(x: Any, s: ColumnSpec): Option[(Long, Long)] = x match {
      case b: java.lang.Boolean =>
        val v = if (b) 1L else 0L
        Some((v, v))
      case _ => None
    }
    // anything outside 0/1 in the block is corruption, not data
    override def decode(block: Array[Byte], off: Int): AnyRef =
      IntCodecs.narrow(LongCodecs.decodeSlice(block, off, block.length), 0, 1)
    override protected def fill(v: OnHeapColumnVector, col: DecodedColumn,
                      sel: Array[Int], m: Int, s: ColumnSpec): Unit = {
      val src = col.ints
      var k = 0
      while (k < m) {
        val r = sel(k)
        if (!col.validAt(r)) v.putNull(k) else v.putBoolean(k, src(r) != 0)
        k += 1
      }
    }
    override def internalValue(s: ColumnSpec): (DecodedColumn, Int) => Any =
      (d, j) => d.ints(j) != 0
  }

  object FLOAT extends Kind(10, FloatType, Stored.NarrowInt, Lane.Ints,
      ordered = true, keyable = false, temporal = false, bucketable = false) {
    private def bits(f: Float): Long = FloatBits.toSortableInt(f).toLong
    // ±0.0f are two adjacent stored values SQL calls equal
    override def storedRange(x: Any, s: ColumnSpec): Option[(Long, Long)] = x match {
      case f: java.lang.Float if !f.isNaN =>
        val v = f.floatValue()
        if (v == 0.0f) Some((bits(-0.0f), bits(0.0f))) else Some((bits(v), bits(v)))
      case _ => None
    }
    override protected def fill(v: OnHeapColumnVector, col: DecodedColumn,
                      sel: Array[Int], m: Int, s: ColumnSpec): Unit = {
      val src = col.ints
      var k = 0
      while (k < m) {
        val r = sel(k)
        if (!col.validAt(r)) v.putNull(k)
        else v.putFloat(k, FloatBits.fromSortableInt(src(r)))
        k += 1
      }
    }
    override def internalValue(s: ColumnSpec): (DecodedColumn, Int) => Any =
      (d, j) => java.lang.Float.valueOf(FloatBits.fromSortableInt(d.ints(j)))
    override def zoneValue(v: Long, s: ColumnSpec): Any =
      java.lang.Float.valueOf(FloatBits.fromSortableInt(v.toInt))
  }

  private val all: Array[Kind] = Array(BIGINT, STRING, INT, TIMESTAMP_NTZ,
    DATE, DOUBLE, BINARY, FLOAT_ARRAY, DECIMAL, BOOLEAN, FLOAT)

  def apply(id: Int): Kind = {
    require(id >= 0 && id < all.length, s"unknown column kind $id")
    all(id)
  }

  /** The SQL type names of the kinds satisfying `p`, for error messages. */
  def names(p: Kind => Boolean): String =
    all.filter(p).map(_.sparkType.sql).mkString(" or ")

  /** The kind storing Spark type `dt`, if any. */
  def of(dt: DataType): Option[Kind] = all.find(_.accepts(dt))

  /** The column spec of a Spark field; rejects types no kind stores. */
  def specOf(f: StructField): ColumnSpec = of(f.dataType).getOrElse(
    throw new IllegalArgumentException(
      s"graft supports only BIGINT, INT, STRING, TIMESTAMP_NTZ, " +
        s"DATE, DOUBLE, FLOAT, BINARY, ARRAY<FLOAT>, DECIMAL(<=18), " +
        s"and BOOLEAN columns; column '${f.name}' is ${f.dataType}"))
    .specOf(f)
}

/** One batch's read-only vector over the selected rows `sel(0 until m)`
  * of a decoded byte-slice column (STRING or BINARY). Values stay in the
  * decoded pool, which nothing writes after decode, so a full read hands
  * Spark its strings without copying them into a vector first.
  */
private[graft] final class SliceVector(dt: DataType, col: DecodedColumn,
                                       sel: Array[Int], m: Int)
    extends ColumnVector(dt) {
  private val u = col.bytes
  private val nulls: Int =
    if (col.nulls == null) 0 else (0 until m).count(k => !col.validAt(sel(k)))

  override def close(): Unit = ()
  override def hasNull: Boolean = nulls > 0
  override def numNulls: Int = nulls
  override def isNullAt(rowId: Int): Boolean = !col.validAt(sel(rowId))
  override def getUTF8String(rowId: Int): UTF8String = {
    val r = sel(rowId)
    UTF8String.fromBytes(u.pool, u.offsets(r), u.lens(r))
  }
  override def getBinary(rowId: Int): Array[Byte] = {
    val r = sel(rowId)
    java.util.Arrays.copyOfRange(u.pool, u.offsets(r), u.offsets(r) + u.lens(r))
  }

  private def unsupported(what: String): Nothing =
    throw new UnsupportedOperationException(s"$what on a $dt slice vector")
  override def getBoolean(rowId: Int): Boolean = unsupported("getBoolean")
  override def getByte(rowId: Int): Byte = unsupported("getByte")
  override def getShort(rowId: Int): Short = unsupported("getShort")
  override def getInt(rowId: Int): Int = unsupported("getInt")
  override def getLong(rowId: Int): Long = unsupported("getLong")
  override def getFloat(rowId: Int): Float = unsupported("getFloat")
  override def getDouble(rowId: Int): Double = unsupported("getDouble")
  override def getArray(rowId: Int): ColumnarArray = unsupported("getArray")
  override def getMap(ordinal: Int): ColumnarMap = unsupported("getMap")
  override def getDecimal(rowId: Int, precision: Int, scale: Int): Decimal =
    unsupported("getDecimal")
  override def getChild(ordinal: Int): ColumnVector = unsupported("getChild")
}
