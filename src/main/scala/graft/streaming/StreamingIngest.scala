package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.engine.{ColumnarEngine, SourceFile}

/** Structured Streaming front-ends for the engine.
  *
  * The reference's streaming surface is incremental io (reference:
  * src/io.rs) — the engine's analogue at cluster scale is (a) micro-batch
  * ingest that feeds the columnar encoder, and (b) watermarked
  * event-time aggregation for the pipeline's monitoring stream.
  */
object StreamingIngest {

  /** Continuously encode arriving source files: each micro-batch becomes
    * its own table under `outDir/batch-<id>` via the engine encode, one
    * DSv2 overwrite. A killed batch commits nothing; a replayed batch
    * re-encodes and overwrites `batch-<id>` whole, so the directory holds
    * exactly one copy of the batch's rows either way.
    */
  def encodeStream(files: Dataset[SourceFile], outDir: String,
                   partsPerBatch: Int = 8): StreamingQuery = {
    files.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .foreachBatch { (batch: Dataset[SourceFile], batchId: Long) =>
        if (!batch.isEmpty) {
          val derived = ColumnarEngine.derive(batch)
          ColumnarEngine.encode(derived, s"$outDir/batch-$batchId", partsPerBatch)
          ()
        }
      }
      .start()
  }

  /** Streaming exact dedup: drop documents whose sha2(text) was already
    * seen within the watermark horizon — the streaming analogue of
    * [[graft.ops.Dedup.exact]] for continuous ingest. State is bounded by
    * the horizon (an unbounded global dedup would grow state forever in a
    * long-running job); the shuffle key is the 32-byte digest, never the
    * document text.
    */
  def dedupStream(docs: DataFrame, tsCol: String, textCol: String,
                  lateness: String = "1 hour"): DataFrame =
    docs
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withWatermark(tsCol, lateness)
      .withColumn("_key", sha2(col(textCol), 256))
      .dropDuplicatesWithinWatermark("_key")
      .drop("_key")

  /** Watermarked tumbling-window aggregation over the events stream:
    * per (window, event_type) counts and exact cent sums, tolerating
    * `lateness` of out-of-order data before state is dropped.
    */
  def windowedEventStats(events: DataFrame, window: String = "1 hour",
                         lateness: String = "30 minutes"): DataFrame =
    events
      // parquet NTZ timestamps -> session-TZ (UTC) instants: watermarks
      // require an instant-typed event time
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", lateness)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("value_cents"))
}
