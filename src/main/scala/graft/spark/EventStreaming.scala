package graft.spark

import org.apache.spark.sql.{DataFrame, functions => F}

/** Structured Streaming operators over the `events` stream (event-time
  * semantics): a watermarked tumbling-window aggregation. It works on both
  * a batch DataFrame and a `readStream` DataFrame — EventStreamingSpec
  * asserts stream == batch on the same input.
  */
object EventStreaming {

  /** Watermarked daily rollup (the streaming form of q5): late events beyond
    * one hour are dropped, finalized windows emit in append mode.
    */
  def dailyCounts(events: DataFrame): DataFrame =
    events
      // watermarks require TIMESTAMP; the events table carries TIMESTAMP_NTZ
      .withColumn("ts", F.col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .groupBy(F.window(F.col("ts"), "1 day"), F.col("event_type"))
      .agg(
        F.count(F.lit(1)).as("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).as("total_value_centi"))
      .select(
        F.col("window.start").as("day"), F.col("event_type"),
        F.col("n"), F.col("total_value_centi"))
}
