package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Multi-table sign-LSH bucketing with QUERY-DIRECTED multiprobe as one
  * native Catalyst expression: for each of `tables` independent
  * hyperplane families, emit the vector's bucket plus the `probes`
  * single-bit-flip buckets whose hyperplane margin is SMALLEST (Lv et
  * al., "Multi-Probe LSH", VLDB'07 — a near neighbor that lands in a
  * different bucket almost always crossed the plane the vector is
  * closest to, so probing flips in boundary-distance order captures most
  * of the hamming-1 recall at a fraction of the probe count).
  *
  * Returns `array<struct<tbl:int, bucket:long>>` of length
  * `tables * (1 + probes)`; `probes = 0` emits just the buckets (the
  * index side of a bucket join). Buckets are bit-identical to
  * [[graft.ops.Similarity.lshBucket]] (same splitmix64 hyperplane
  * construction, same sign rule — asserted in OpsSpec): margins are
  * ranked with unit-normalized planes, which rescales each dot by a
  * positive constant and so never changes its sign.
  *
  * The declarative form ([[graft.ops.Similarity.lshTables]] + an
  * `explode` of XOR flips) evaluates `tables * planes` separate
  * `aggregate(zip_with(...))` dot products — one intermediate array per
  * plane per row; this is one fused pass over the vector per table
  * family. Accepts `array<float>` (embeddings' native type — no
  * cast-to-double blow-up before the shuffle) or `array<double>`.
  */
case class LshProbes(child: Expression, dim: Int, planes: Int, tables: Int,
                     probes: Int, seed: Long)
    extends UnaryExpression {

  require(dim >= 1, s"dim must be >= 1: $dim")
  require(planes >= 1 && planes <= 62, s"planes out of range: $planes")
  require(tables >= 1 && tables <= 512, s"tables out of range: $tables")
  require(probes >= 0 && probes <= planes,
    s"probes must be in [0, planes=$planes]: $probes")

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("tbl", IntegerType, nullable = false),
      StructField("bucket", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lsh_probes requires array<float> or array<double>, got $other")
  }

  // lazy: Catalyst copies expression trees with UNRESOLVED children
  // during analysis, where an eager child.dataType read would throw
  // UnresolvedException (the convention for type-derived fields)
  @transient private lazy val isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** Hyperplane matrix [tables*planes][dim] + per-plane 1/||plane|| for
    * margin ranking: [[graft.ops.Similarity]]'s own splitmix64 planes
    * (bucket parity is tested).
    */
  @transient private lazy val matrix: Array[Array[Double]] =
    Array.tabulate(tables * planes)(graft.ops.Similarity.hyperplane(seed, _, dim))

  @transient private lazy val invNorms: Array[Double] =
    matrix.map { p =>
      var s = 0.0
      var i = 0
      while (i < p.length) { s += p(i) * p(i); i += 1 }
      1.0 / math.sqrt(s)
    }

  override def nullSafeEval(input: Any): Any = evalVec(input.asInstanceOf[ArrayData])

  /** Shared by interpreted eval and generated code. May run concurrently
    * from several tasks referencing one expression instance — all scratch
    * state is local.
    */
  def evalVec(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    require(n == dim, s"lsh_probes: expected $dim components, got $n")
    val v = new Array[Double](dim)
    var i = 0
    if (isFloat) while (i < dim) { v(i) = arr.getFloat(i); i += 1 }
    else while (i < dim) { v(i) = arr.getDouble(i); i += 1 }
    val out = new Array[Any](tables * (1 + probes))
    val margins = new Array[Double](planes)
    var o = 0
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var p = 0
      while (p < planes) {
        val plane = matrix(t * planes + p)
        var dot = 0.0
        var j = 0
        while (j < dim) { dot += v(j) * plane(j); j += 1 }
        if (dot >= 0) bucket |= 1L << p
        margins(p) = math.abs(dot) * invNorms(t * planes + p)
        p += 1
      }
      out(o) = new GenericInternalRow(Array[Any](t, bucket)); o += 1
      // probe the `probes` smallest margins (partial selection — planes
      // is tiny, O(planes * probes) beats a sort's allocation)
      var k = 0
      while (k < probes) {
        var best = -1
        var bestM = Double.MaxValue
        var q = 0
        while (q < planes) {
          if (margins(q) < bestM) { bestM = margins(q); best = q }
          q += 1
        }
        margins(best) = Double.MaxValue // consumed
        out(o) = new GenericInternalRow(Array[Any](t, bucket ^ (1L << best))); o += 1
        k += 1
      }
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the kernel is loop-heavy: reference this instance and call evalVec
    // from the generated code — the surrounding stage stays in
    // whole-stage codegen (no CodegenFallback row boxing)
    val ref = ctx.addReferenceObj("lshProbes", this, classOf[LshProbes].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.evalVec($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): LshProbes =
    copy(child = newChild)

  override def prettyName: String = "lsh_probes"
}

object LshProbes {

  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    GraftFunctions.registerOne(spark, "lsh_probes")

  /** Column entry point; requires [[register]] on the session. */
  def lshProbes(vec: Column, dim: Int, planes: Int, tables: Int,
                probes: Int, seed: Long): Column = {
    import org.apache.spark.sql.functions.{call_function, lit}
    call_function("lsh_probes", vec, lit(dim), lit(planes), lit(tables),
      lit(probes), lit(seed))
  }
}
