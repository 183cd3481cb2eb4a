package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deterministic dense global dictionary `value -> code in [0, card)`.
  *
  * Scales to high-cardinality columns: distinct values are hash-bucketed,
  * per-bucket counts (tiny — one row per bucket) give cumulative offsets,
  * and each bucket assigns `offset + row_number() - 1` under a window
  * partitioned BY BUCKET — so no single-partition window exists anywhere
  * and the heaviest operation is one distinct + one bounded window.
  * Codes are deterministic across runs and cluster sizes (bucket id and
  * in-bucket order are pure functions of the value).
  */
object GlobalDictionary {

  /** @return DataFrame(value, code) with dense deterministic codes. */
  def build(df: DataFrame, column: String, buckets: Int = 64): DataFrame =
    buildMulti(df, Seq(column), buckets)
      .select(col("value"), col("code"))

  /** All requested columns' dictionaries in ONE pass over `df` (round
    * 10): the per-column form scanned the table once per dictionary and
    * chained one distinct + one repartition exchange each — the derive
    * stage paid that three times. Unioning the columns as (kind, value)
    * rows makes it one scan + one map-side-deduped distinct + one
    * clustered exchange shared by the counts aggregate and the rank
    * window (guide §2.3/§2.4), and the per-kind branches the caller
    * filters out of the result REUSE those exchanges (identical
    * subplans), so the heavy work runs once however many dictionaries
    * are pulled from it.
    *
    * Codes are IDENTICAL to the single-column form: bucket id and
    * in-bucket (value) rank are per (kind, value), and the cumulative
    * offset runs over each kind's <= `buckets` count rows alone.
    *
    * @return DataFrame(kind, value, code); `kind` is the column name.
    */
  def buildMulti(df: DataFrame, columns: Seq[String],
                 buckets: Int = 64): DataFrame = {
    require(columns.nonEmpty)
    val spark = df.sparkSession
    import spark.implicits._
    val stackArgs = columns
      .map(c => s"'${c}', CAST(`$c` AS STRING)").mkString(", ")
    val kinds = df
      .selectExpr(s"stack(${columns.size}, $stackArgs) AS (kind, value)")
      .where($"value".isNotNull)
      .distinct()
    val bucketed = kinds
      .withColumn("_b", pmod(xxhash64($"value"), lit(buckets.toLong)))
    // one row per (kind, bucket) — bounded at columns x buckets rows,
    // safe to bring to the driver at any scale. A lazy running-sum window
    // was tried here in round 10 and measured SLOWER: it chains
    // counts-exchange -> offsets-window -> broadcast into the caller's
    // critical path, where this ONE eager job (for all kinds together —
    // the per-column form paid it three times) yields a LocalRelation the
    // join below broadcasts instantly.
    val counts = bucketed.groupBy($"kind", $"_b").agg(count(lit(1)).as("_c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    val offsets = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    var curKind: String = null
    var acc = 0L
    for ((k, b, c) <- counts) {
      if (k != curKind) { curKind = k; acc = 0L }
      offsets += ((k, b, acc))
      acc += c
    }
    val offDf = spark.createDataFrame(offsets.toSeq)
      .toDF("kind", "_b", "_off")
    val w = Window.partitionBy($"kind", $"_b").orderBy($"value")
    bucketed.join(broadcast(offDf), Seq("kind", "_b"))
      .withColumn("code", ($"_off" + row_number().over(w) - 1).cast("long"))
      .select($"kind", $"value", $"code")
  }
}
