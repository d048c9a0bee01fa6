package graft.spark

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming entry point onto the incremental store. The
  * reference is batch (SURVEY §2.9: its async streams are concurrency, not
  * event time), but maintenance is a log by construction: a microbatch is
  * one more appended batch, `foreachBatch` runs the batch operator per
  * trigger, and the streaming checkpoint does the exactly-once bookkeeping.
  * `pageDeltaStream`: arriving page files append to the capture/triple logs
  * through `Incremental.appendDelta`; the graph is the
  * `Incremental.currentTriples` view, folded by `Incremental.compact`.
  */
object KgStreaming {

  /** Delta-crawl ingestion as a stream: arriving page files fold into the
    * incremental capture/triple logs per microbatch through
    * `Incremental.appendDelta` with batch = microbatch id + 1 (batch 0 is
    * the log's init marker). foreachBatch delivery is at-least-once, but
    * appendDelta is idempotent per batch id — it writes per-batch
    * directories with overwrite and computes against STRICTLY earlier
    * batches, so a microbatch retried after a partial write re-emits
    * byte-identical directories. The current graph at any point is
    * `Incremental.currentTriples(base, readLog(tlog))`; `compact` runs on a
    * slow cadence outside the stream.
    */
  def pageDeltaStream(
      spark: SparkSession,
      pagesStreamDir: String,
      capturesTable: String,
      clogPath: String,
      tlogPath: String,
      checkpointDir: String,
      pageSchema: org.apache.spark.sql.types.StructType,
      maxFilesPerTrigger: Int = 1
  ): StreamingQuery = {
    spark.readStream
      .schema(pageSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(pagesStreamDir)
      .writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        Incremental.appendDelta(batch.sparkSession, batch.toDF(),
          capturesTable, clogPath, tlogPath, batch = batchId.toInt + 1)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
