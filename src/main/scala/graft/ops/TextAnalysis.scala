package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines, built from
  * codegen'd Catalyst functions (no UDFs): token counting, quality
  * scoring, n-gram language id, and rolling-hash fingerprinting.
  * Each has an ANSI-SQL-expressible form used by the DuckDB oracles.
  */
object TextAnalysis {

  /** Whitespace token count; empty/blank text counts 0. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish subword token count: letter runs are one token, every
    * digit its own token, every other non-space character its own token
    * — the shape of byte-pair vocabularies (cl100k splits numbers
    * per-digit and rarely merges across character classes). One
    * codegen'd regexp pass; the same pattern is ANSI-portable for the
    * DuckDB oracle.
    */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  /** Quality-score components + a blended score in [0,1]:
    * alpha ratio, punctuation ratio, mean token length, stopword ratio.
    */
  def qualityColumns(df: DataFrame, text: String): DataFrame = {
    val t = col(text)
    val nChars = length(t)
    val nAlpha = length(regexp_replace(t, "[^A-Za-z]", ""))
    val nPunct = length(regexp_replace(t, "[^.,;:!?]", ""))
    val nTok = tokenCount(t)
    df.withColumn("n_chars", nChars.cast("long"))
      .withColumn("n_tokens", nTok.cast("long"))
      .withColumn("alpha_ratio", nAlpha.cast("double") / greatest(nChars, lit(1)))
      .withColumn("punct_ratio", nPunct.cast("double") / greatest(nChars, lit(1)))
      .withColumn("avg_token_len",
        nChars.cast("double") / greatest(nTok, lit(1)))
      .withColumn("quality_score",
        least(lit(1.0), col("alpha_ratio") * 0.5
          + (lit(1.0) - col("punct_ratio")) * 0.2
          + least(col("n_tokens").cast("double") / 100.0, lit(1.0)) * 0.3))
  }

  private[graft] val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "for", "on"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "por", "con", "los"),
    "fr" -> Seq("le", "la", "de", "et", "un", "les", "des", "en", "du", "que"),
    "de" -> Seq("der", "die", "und", "das", "von", "zu", "mit", "den", "ein", "ist"))

  /** N-gram/stopword language-id heuristic: score = stopword hits per
    * language + CJK character share for zh; argmax wins, "und"etermined
    * when nothing scores. Pure Catalyst expressions (array_intersect over
    * split tokens), so it runs inside whole-stage codegen.
    */
  def langIdColumns(df: DataFrame, text: String): DataFrame = {
    val tokens = split(lower(col(text)), "\\s+")
    var out = df
    for ((lang, words) <- Stopwords.toSeq.sortBy(_._1))
      out = out.withColumn(s"_hits_$lang",
        size(array_intersect(array_distinct(tokens), array(words.map(lit): _*))))
    out = out.withColumn("_hits_zh",
      length(regexp_replace(col(text), "[^\\x{4e00}-\\x{9fff}]", "")))
    val langs = Stopwords.keys.toSeq.sorted :+ "zh"
    val best = langs.map(l => col(s"_hits_$l")).reduce(greatest(_, _))
    val pick = langs.foldRight(lit("und")) { (l, acc) =>
      when(col(s"_hits_$l") === best && best > 0, lit(l)).otherwise(acc)
    }
    out.withColumn("lang_pred", pick).drop(langs.map(l => s"_hits_$l"): _*)
  }

  /** Rolling word-k-gram fingerprint: xxhash64 of each k-gram window, then
    * the minimum hash — a winnowing-style document fingerprint that is
    * stable under small appends/truncations. xxhash64 is the production
    * hash (codegen'd, one multiply-rotate pass per gram).
    */
  def fingerprint(text: Column, k: Int = 5): Column = {
    val tokens = split(trim(text), "\\s+")
    val nWindows = greatest(size(tokens) - (k - 1), lit(1))
    array_min(transform(sequence(lit(1), nWindows),
      i => xxhash64(concat_ws(" ", slice(tokens, i, lit(k))))))
  }

  /** Same fingerprint with a sha256-derived 60-bit gram hash instead of
    * xxhash64. Slower (sha per window) but expressible in ANSI SQL, so the
    * DuckDB oracle can verify the whole windowing+min pipeline end to end
    * (xxhash64 exists only inside Spark). Use [[fingerprint]] at scale.
    */
  def fingerprintSha(text: Column, k: Int = 5): Column = {
    val tokens = split(trim(text), "\\s+")
    val nWindows = greatest(size(tokens) - (k - 1), lit(1))
    array_min(transform(sequence(lit(1), nWindows),
      i => conv(substring(sha2(concat_ws(" ", slice(tokens, i, lit(k))), 256), 1, 15),
        16, 10).cast("long")))
  }
}
