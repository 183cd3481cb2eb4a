package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass language-id heuristic as a native Catalyst expression,
  * semantically identical to [[graft.ops.TextAnalysis.langIdColumns]]'s
  * declarative form (distinct-stopword hits per language + CJK character
  * count for zh; argmax in sorted language order; "und" when nothing
  * scores) — but in a single scan of the text instead of one
  * `array_intersect` per language plus a regex pass (5 scans).
  */
case class LangIdExpr(child: Expression) extends UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = StringType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"lang_id requires a string argument, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(LangIdExpr.compute(input.asInstanceOf[UTF8String].toString))

  override protected def withNewChildInternal(newChild: Expression): LangIdExpr =
    copy(child = newChild)

  override def prettyName: String = "lang_id"
}

object LangIdExpr {

  /** Sorted language order — ties resolve to the FIRST match, exactly as
    * the declarative fold in TextAnalysis (and the DuckDB oracle's CASE).
    */
  val Langs: Array[String] = Array("de", "en", "es", "fr")

  private val StopwordSets: Array[java.util.HashSet[String]] =
    Langs.map { l =>
      val s = new java.util.HashSet[String]()
      graft.ops.TextAnalysis.Stopwords(l).foreach(s.add)
      s
    }

  /** Matches Java regex \s (what split(text, "\\s+") splits on). */
  @inline private def isSep(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  def compute(text: String): String = {
    // CJK count on the ORIGINAL text (mirrors regexp_replace on col(text))
    var zh = 0L
    var i = 0
    val n = text.length
    while (i < n) {
      val c = text.charAt(i)
      if (c >= '\u4e00' && c <= '\u9fff') zh += 1
      i += 1
    }
    // distinct stopword hits per language over lowercased \s+ tokens
    val matched = Array.fill(Langs.length)(new java.util.HashSet[String]())
    val lower = text.toLowerCase(java.util.Locale.ROOT)
    var start = 0
    i = 0
    val m = lower.length
    while (i <= m) {
      if (i == m || isSep(lower.charAt(i))) {
        if (i > start) {
          val tok = lower.substring(start, i)
          var l = 0
          while (l < Langs.length) {
            if (StopwordSets(l).contains(tok)) matched(l).add(tok)
            l += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    val hits = matched.map(_.size.toLong) :+ zh
    val best = hits.max
    if (best <= 0) "und"
    else {
      val idx = hits.indexWhere(_ == best)
      if (idx < Langs.length) Langs(idx) else "zh"
    }
  }

  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    GraftFunctions.registerOne(spark, "lang_id")

  def lang_id(c: Column): Column =
    org.apache.spark.sql.functions.call_function("lang_id", c)
}
