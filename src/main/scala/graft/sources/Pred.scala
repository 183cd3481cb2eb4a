package graft.sources

import graft.codecs.DoubleBits
import graft.engine.{DecodedColumn, Lane}

/** A pushed filter in the STORED domain, the one form pushdown works in
  * past its boundary ([[GraftDataSource.pushdown]]): chunk and container
  * admission, statistics, runtime filters, rename re-keying and the
  * reader's row check all consume preds. Constants are lane values:
  * longs on the Longs and Ints lanes (BIGINT, TIMESTAMP_NTZ micros,
  * DECIMAL unscaled, INT, DATE days, BOOLEAN 0/1, FLOAT sortable bits),
  * doubles for DOUBLE, strings for STRING.
  *
  * A pred answers each proof that can rule a group of rows out; an
  * unrecorded statistic rules nothing out (skip only on proof). Value
  * tests never hold on a NULL row; [[NullTest]] reads the validity
  * bitmap itself.
  */
private[sources] sealed abstract class Pred extends Serializable {
  def col: String

  /** The same test on column `c`: a rename re-keys a pred between a
    * query's current names and a container's stored labels.
    */
  def on(c: String): Pred

  /** May a value of the zone map [lo, hi] pass? */
  def overlaps(lo: Long, hi: Long): Boolean = true

  /** May a row of a `rows`-row group pass, given the column's null count,
    * string dictionary and all-ASCII string range, each where recorded?
    */
  def mayHold(rows: Long, nulls: Option[Long], dict: Option[Seq[String]],
              range: Option[(String, String)]): Boolean = true

  /** May a container whose values hash into bucket `ids` of `n` pass?
    * `ints`: the column's lane is Ints, so values hash as INT.
    */
  def inBuckets(ids: Set[Int], n: Int, ints: Boolean): Boolean = true

  /** The row test over one chunk's decoded column: it fetches the
    * column's lane array once and returns a closure over that primitive
    * array.
    */
  def rows(d: DecodedColumn): Int => Boolean
}

private[sources] object Pred {
  sealed abstract class Cmp
  case object Eq extends Cmp
  case object Gt extends Cmp
  case object Ge extends Cmp
  case object Lt extends Cmp
  case object Le extends Cmp

  /** `col op v` over long lane values, as the inclusive range it admits. */
  def longCmp(col: String, op: Cmp, v: Long): LongRange = op match {
    case Eq => LongRange(col, v, v)
    case Gt => if (v == Long.MaxValue) LongRange(col, 1L, 0L) else LongRange(col, v + 1, Long.MaxValue)
    case Ge => LongRange(col, v, Long.MaxValue)
    case Lt => if (v == Long.MinValue) LongRange(col, 1L, 0L) else LongRange(col, Long.MinValue, v - 1)
    case Le => LongRange(col, Long.MinValue, v)
  }

  def bucketOf(v: Long, n: Int, ints: Boolean): Int =
    if (ints) GraftDataSource.bucketIdOfInt(v.toInt, n)
    else GraftDataSource.bucketIdOfLong(v, n)

  /** `preds` inside a container that predates the columns `predated`
    * flags, where every row is NULL: IS NULL on such a column holds on
    * every row and is dropped; any other test of one matches no row, so
    * the container is skipped whole (None). Planning and the reader both
    * apply this rule.
    */
  def within(preds: Seq[Pred], predated: String => Boolean): Option[Seq[Pred]] = {
    val (out, in) = preds.partition(p => predated(p.col))
    if (out.forall { case NullTest(_, isNull) => isNull; case _ => false }) Some(in)
    else None
  }
}

/** `lo <= v <= hi` on a Longs or Ints lane (empty when lo > hi); an
  * equality is a one-point range.
  */
private[sources] final case class LongRange(col: String, lo: Long, hi: Long) extends Pred {
  def on(c: String): Pred = copy(col = c)
  override def overlaps(zlo: Long, zhi: Long): Boolean = lo <= hi && hi >= zlo && lo <= zhi
  override def inBuckets(ids: Set[Int], n: Int, ints: Boolean): Boolean =
    lo != hi || ids(Pred.bucketOf(lo, n, ints))
  def rows(d: DecodedColumn): Int => Boolean = {
    val l = lo
    val h = hi
    if (d.lane == Lane.Ints) { val a = d.ints; j => a(j) >= l && a(j) <= h }
    else { val a = d.longs; j => a(j) >= l && a(j) <= h }
  }
}

/** `v IN values` on a Longs or Ints lane. */
private[sources] final case class LongIn(col: String, values: Array[Long]) extends Pred {
  def on(c: String): Pred = copy(col = c)
  override def overlaps(zlo: Long, zhi: Long): Boolean = values.exists(v => v >= zlo && v <= zhi)
  override def inBuckets(ids: Set[Int], n: Int, ints: Boolean): Boolean =
    values.exists(v => ids(Pred.bucketOf(v, n, ints)))
  // built once per pred, not per chunk
  @transient private lazy val intSet = values.map(_.toInt).toSet
  @transient private lazy val longSet = values.toSet
  def rows(d: DecodedColumn): Int => Boolean =
    if (d.lane == Lane.Ints) { val set = intSet; val a = d.ints; j => set.contains(a(j)) }
    else { val set = longSet; val a = d.longs; j => set.contains(a(j)) }
}

/** `v op x` on the Doubles lane, in Spark's order: a NaN ROW ranks above
  * every constant (NaN constants never push) and -0.0 = 0.0. Zone maps
  * hold sortable longs, where ±0.0 are two adjacent values.
  */
private[sources] final case class DoubleCmp(col: String, op: Pred.Cmp, x: Double) extends Pred {
  def on(c: String): Pred = copy(col = c)
  override def overlaps(zlo: Long, zhi: Long): Boolean = {
    val vLo = DoubleBits.toSortableLong(if (x == 0.0) -0.0 else x)
    val vHi = DoubleBits.toSortableLong(if (x == 0.0) 0.0 else x)
    op match {
      case Pred.Eq => vHi >= zlo && vLo <= zhi
      case Pred.Gt => zhi > vHi
      case Pred.Ge => zhi >= vLo
      case Pred.Lt => zlo < vLo
      case Pred.Le => zlo <= vHi
    }
  }
  def rows(d: DecodedColumn): Int => Boolean = {
    val v = x
    val a = d.doubles
    op match {
      // IEEE == makes -0.0 = 0.0, matching SQL equality
      case Pred.Eq => j => a(j) == v
      case Pred.Gt => j => a(j) > v || a(j).isNaN
      case Pred.Ge => j => a(j) >= v || a(j).isNaN
      case Pred.Lt => j => a(j) < v
      case Pred.Le => j => a(j) <= v
    }
  }
}

/** `v IN values` on the Doubles lane (no NaN member). */
private[sources] final case class DoubleIn(col: String, values: Array[Double]) extends Pred {
  def on(c: String): Pred = copy(col = c)
  override def overlaps(zlo: Long, zhi: Long): Boolean =
    values.exists(DoubleCmp(col, Pred.Eq, _).overlaps(zlo, zhi))
  def rows(d: DecodedColumn): Int => Boolean = {
    // an ARRAY scan with IEEE ==, not a Set: boxed-Double set membership
    // would miss -0.0 vs 0.0 (SQL calls them equal)
    val arr = values
    val a = d.doubles
    j => {
      val x = a(j)
      var i = 0
      var hit = false
      while (!hit && i < arr.length) { hit = x == arr(i); i += 1 }
      hit
    }
  }
}

/** `v IN values` on a STRING column; equality is a one-member IN. The
  * row test compares UTF-8 bytes, encoded once.
  */
private[sources] final case class BytesIn(col: String, values: Array[String]) extends Pred {
  def on(c: String): Pred = copy(col = c)
  override def mayHold(rows: Long, nulls: Option[Long], dict: Option[Seq[String]],
                       range: Option[(String, String)]): Boolean =
    values.exists(v => dict.forall(_.contains(v)) &&
      range.forall { case (lo, hi) => v.compareTo(lo) >= 0 && v.compareTo(hi) <= 0 })
  override def inBuckets(ids: Set[Int], n: Int, ints: Boolean): Boolean =
    values.exists(v => ids(GraftDataSource.bucketIdOfString(v, n)))
  // encoded once per pred, not per chunk
  @transient private lazy val utf8 =
    values.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  def rows(d: DecodedColumn): Int => Boolean = {
    val bs = utf8
    val u = d.bytes
    if (bs.length == 1) { val b = bs(0); j => u.equalsBytes(j, b) }
    else j => bs.exists(b => u.equalsBytes(j, b))
  }
}

/** `IS NULL` (`isNull`) or `IS NOT NULL`, on any column. Every nullable
  * column records null counts; a non-nullable one records none and admits.
  */
private[sources] final case class NullTest(col: String, isNull: Boolean) extends Pred {
  def on(c: String): Pred = copy(col = c)
  override def mayHold(rows: Long, nulls: Option[Long], dict: Option[Seq[String]],
                       range: Option[(String, String)]): Boolean =
    if (isNull) nulls.forall(_ > 0L) else !nulls.contains(rows)
  def rows(d: DecodedColumn): Int => Boolean =
    if (isNull) j => !d.validAt(j) else j => d.validAt(j)
}
