package graft.spark

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming entry points onto the incremental store. The
  * reference is batch (SURVEY §2.9: its async streams are concurrency, not
  * event time), but maintenance is a log by construction: a microbatch is
  * one more appended batch, `foreachBatch` runs the batch operator per
  * trigger, and the streaming checkpoint does the exactly-once bookkeeping.
  *   - `pageDeltaStream`: arriving page files append to the capture/triple
  *     logs through `Incremental.appendDelta`; the graph is the
  *     `Incremental.currentTriples` view, folded by `Incremental.compact`.
  *   - `enrichLogStream` + `compactEnrichment`: arriving registry rows
  *     append to a gated enrichment log that compacts onto the canonical
  *     table.
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

  /** Incremental registry enrichment as a stream: arriving parsed-registry
    * datum rows (subj, pred, obj, obj_json) append to a gated enrichment LOG
    * per microbatch — the SAME gate definition as `KgEngine.enrichAll`
    * (`gatedRegistryRaw`), against the STORED canonical table, so only rows
    * that can still fill a gap are ever logged. No state is rewritten per
    * trigger. Delivery is at-least-once (foreachBatch + blind parquet
    * append: a batch retried after a successful write but before its
    * checkpoint commit re-appends its rows); the result stays exact because
    * a retried batch re-emits IDENTICAL rows and the compaction argmax
    * dedups them — only the log carries the duplicates (a production sink
    * would write per-batch-id paths or an Iceberg transaction for a clean
    * log). Ties between batches resolve to the EARLIEST batch (seq = batch
    * id, negated by canonicalize — insert-first-wins, like the reference's
    * merge).
    */
  def enrichLogStream(
      spark: SparkSession,
      canonDir: String,
      registryStreamDir: String,
      logDir: String,
      checkpointDir: String,
      supportedFields: Seq[String],
      maxCertainty: Int,
      maxFilesPerTrigger: Int = 1
  ): StreamingQuery = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("subj", StringType), StructField("pred", StringType),
      StructField("obj", StringType), StructField("obj_json", StringType)))
    val reg = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(registryStreamDir)
    reg.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import org.apache.spark.sql.{functions => F}
        val s = batch.sparkSession
        KgEngine.gatedRegistryRaw(
            s.read.parquet(canonDir), batch.toDF(),
            supportedFields, maxCertainty, seq = F.lit(batchId.toInt))
          .write.mode("append").parquet(logDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** canon ∪ enrichment log → enriched canonical table: ONE lattice argmax
    * then the offline extend tail (SF derivation + extrapolation fixpoint)
    * on enriched subjects. For a registry stream with at most one row per
    * (subj, pred, certainty) — the normal registry-snapshot shape — any
    * partition into microbatches compacts to exactly the one-shot
    * `enrichAll(canon, registry)` result (asserted in KgJobSpec); when a
    * stream DOES re-claim the same (subj, pred) at equal certainty across
    * batches, the streamed form is still deterministic (earliest batch wins
    * via seq) while one-shot enrichAll, which has no batch order, would
    * need the caller to collapse such duplicates first. An absent or empty
    * log compacts to the extrapolated canonical table unchanged.
    */
  def compactEnrichment(
      spark: SparkSession,
      canonDir: String,
      logDir: String
  ): Dataset[Model.CanonTriple] = {
    import spark.implicits._
    import org.apache.spark.sql.{functions => F}
    val existing = spark.read.parquet(canonDir).select(
      F.col("subj"), F.col("pred"), F.col("obj"), F.col("obj_json"),
      F.col("certainty"), F.col("origin"),
      F.lit(0).as("guesser_rank"), F.lit(0).as("seq"))
    // a stream that never delivered a batch never created the log: compact
    // to canon unchanged instead of failing schema inference on a missing
    // directory
    val logPath = new org.apache.hadoop.fs.Path(logDir)
    val fs = logPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasLog = fs.exists(logPath) &&
      fs.listStatus(logPath).exists(_.getPath.getName.startsWith("part-"))
    val log =
      if (hasLog) spark.read.parquet(logDir).select(
        "subj", "pred", "obj", "obj_json",
        "certainty", "origin", "guesser_rank", "seq")
      else existing.where(F.lit(false))
    val merged = KgEngine.canonicalize(
      existing.unionByName(log).as[Model.RawTriple]).as[Model.CanonTriple]
    KgEngine.extrapolatePost(merged, Seq("external-registry"))
  }
}
