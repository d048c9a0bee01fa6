package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{functions => F}
import graft.spark.EventStreaming

/** Event-time streaming semantics: the watermarked windowed aggregation
  * must agree with its batch form on the same input. Real events arrive as
  * ONE file (= one microbatch, so no real row is ever late vs the
  * watermark); two far-future sentinel files then advance the watermark
  * across two further batches, which finalizes every real window.
  */
class EventStreamingSpec extends AnyFunSuite with SparkSuite {

  private def freshDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d.toString
  }

  private def events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")

  /** Writes real events as one file plus two future sentinel files (the ts
    * column is TIMESTAMP_NTZ — sentinels derive from max(ts) + interval so
    * the type matches the existing files). The file-stream source processes
    * files in modification-time order, so each batch's files get EXPLICIT
    * mtimes 60 s apart — relying on write latency for distinct mtimes is
    * flaky on coarse-mtime filesystems (a sentinel picked up first would
    * advance the watermark and drop every real event).
    */
  private def stageInput(in: String): Unit = {
    val dir = new java.io.File(in)
    val seen = scala.collection.mutable.Set.empty[String]
    def stampNew(t: Long): Unit =
      dir.listFiles().filter(_.getName.startsWith("part-"))
        .filterNot(f => seen.contains(f.getName))
        .foreach { f => assert(f.setLastModified(t)); seen += f.getName }
    val t0 = System.currentTimeMillis() - 600000
    events.coalesce(1).write.mode("append").parquet(in)
    stampNew(t0)
    for (k <- 1 to 2) {
      events.agg(F.max("ts").as("m")).select(
          F.lit(-1L).as("event_id"),
          F.expr(s"m + INTERVAL ${30 * k} DAYS").as("ts"),
          F.lit(-1L).as("user_id"),
          F.lit("zz_sentinel").as("event_type"),
          F.lit(0.0).as("value"),
          F.lit("{}").as("props"))
        .coalesce(1).write.mode("append").parquet(in)
      stampNew(t0 + k * 60000L)
    }
  }

  private def runStream(in: String, out: String,
      transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
    val schema = spark.read.parquet(in).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val q = transform(stream).writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", freshDir("ckpt"))
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)
  }

  test("watermarked daily window aggregation: stream == batch") {
    val in = freshDir("evs_in"); val out = freshDir("evs_out")
    stageInput(in)
    runStream(in, out, EventStreaming.dailyCounts)
    val streamed = spark.read.parquet(out)
      .where("event_type != 'zz_sentinel'")
      .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    val batch = EventStreaming.dailyCounts(events)
      .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }
}
