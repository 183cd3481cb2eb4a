package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** IVF coarse-quantizer list assignment as ONE native Catalyst
  * expression: ranks the `cents` centroid lists for a vector by
  * `<v, c> - |c|^2 / 2` (the squared-L2-nearest ordering — `|v|^2` is
  * constant per row) and returns the best `nprobe` list ids, descending
  * score, ties to the lower id.
  *
  * The declarative form ([[graft.ops.Similarity.ivfTopK]] rounds 5-8)
  * built `nlist` separate `aggregate(zip_with(vec, lit-array))` dot
  * products per row — one intermediate zipped array per centroid per
  * row, the same shape whose fusion into [[LshProbes]] cut e3 7x in
  * round 5. This is one fused pass over the vector per centroid with no
  * allocation beyond the tiny output ids array. Accepts `array<float>`
  * (the embeddings' native type) or `array<double>`.
  *
  * `nprobe = 1` is the corpus-assignment side of the IVF build (argmax);
  * the query side explodes the full ranked prefix.
  */
case class IvfLists(child: Expression, cents: Seq[Seq[Double]], nprobe: Int)
    extends UnaryExpression {

  require(cents.nonEmpty, "ivf_lists: empty centroid set")
  require(cents.forall(_.length == cents.head.length),
    "ivf_lists: ragged centroid matrix")
  require(nprobe >= 1 && nprobe <= cents.size,
    s"nprobe must be in [1, nlist=${cents.size}]: $nprobe")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ivf_lists requires array<float> or array<double>, got $other")
  }

  // lazy: Catalyst copies expression trees with UNRESOLVED children
  // during analysis, where an eager child.dataType read would throw
  @transient private lazy val isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  @transient private lazy val matrix: Array[Array[Double]] =
    cents.map(_.toArray).toArray

  /** `|c|^2 / 2` per centroid, precomputed once. */
  @transient private lazy val halfNorm: Array[Double] =
    matrix.map { c =>
      var s = 0.0
      var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      s / 2.0
    }

  override def nullSafeEval(input: Any): Any = evalVec(input.asInstanceOf[ArrayData])

  /** Shared by interpreted eval and generated code; all scratch state is
    * local (one expression instance may be shared across tasks).
    */
  def evalVec(arr: ArrayData): ArrayData = {
    val nlist = matrix.length
    val dim = matrix(0).length
    val n = arr.numElements()
    require(n == dim, s"ivf_lists: expected $dim components, got $n")
    val v = new Array[Double](dim)
    var i = 0
    if (isFloat) while (i < dim) { v(i) = arr.getFloat(i); i += 1 }
    else while (i < dim) { v(i) = arr.getDouble(i); i += 1 }
    val scores = new Array[Double](nlist)
    var c = 0
    while (c < nlist) {
      val cent = matrix(c)
      var dot = 0.0
      var j = 0
      while (j < dim) { dot += v(j) * cent(j); j += 1 }
      // a NaN dot (non-finite vector component) scores as -Inf so the
      // selection below never carries NaN into its comparisons
      val s = dot - halfNorm(c)
      scores(c) = if (java.lang.Double.isNaN(s)) Double.NegativeInfinity else s
      c += 1
    }
    // partial selection of the top nprobe by (score desc, id asc) —
    // nlist is tiny (<= a few hundred), O(nlist * nprobe) beats a sort.
    // Consumed lists are tracked apart from the scores: once fewer than
    // nprobe lists score above -Inf (a NaN vector scores -Inf on all of
    // them), the rest follow in id order, and no list is picked twice.
    val consumed = new Array[Boolean](nlist)
    val out = new Array[Any](nprobe)
    var k = 0
    while (k < nprobe) {
      var best = -1
      var q = 0
      while (q < nlist) {
        if (!consumed(q) && (best < 0 || scores(q) > scores(best))) best = q
        q += 1
      }
      consumed(best) = true
      out(k) = best
      k += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // loop-heavy kernel: reference this instance and call evalVec from
    // the generated code — the surrounding stage stays in whole-stage
    // codegen (no CodegenFallback row boxing)
    val ref = ctx.addReferenceObj("ivfLists", this, classOf[IvfLists].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.evalVec($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): IvfLists =
    copy(child = newChild)

  override def prettyName: String = "ivf_lists"
}

object IvfLists {

  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    GraftFunctions.registerOne(spark, "ivf_lists")

  /** Column entry point; requires [[register]] on the session. The
    * centroid matrix rides the expression as a nested-array literal, so
    * a SQL caller can equally write
    * `ivf_lists(vec, array(array(...d...), ...), nprobe)`.
    */
  def ivfLists(vec: Column, cents: Seq[Seq[Double]], nprobe: Int): Column = {
    import org.apache.spark.sql.functions.{call_function, lit, typedLit}
    call_function("ivf_lists", vec, typedLit(cents), lit(nprobe))
  }
}
