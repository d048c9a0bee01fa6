package graft.spark

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession, functions => F}
import org.apache.spark.sql.types.IntegerType

import graft.pipeline.Summarize
import Model.{CanonTriple, Capture, Ranked}

/** Incremental KG maintenance — the delta-crawl path a 100 TB deployment
  * actually runs. The reference is a per-project CLI that recomputes one
  * checkout per invocation (lib.rs:3871-3920); at crawl scale a weekly
  * recrawl re-delivers every page but only ~1% CHANGE, and re-extracting
  * the other 99% is the dominant (and avoidable) CPU cost.
  *
  * The store is a merge-on-read log over a base that is `KgJob.run`'s
  * output (`bucket=N` tables under its commit manifest, named in the
  * catalog by `register`): a table is the fold of its change log.
  *   - base `captures(subj, relpath, ts, md5, text)` — the winning
  *     candidate capture (`KgEngine.candidateRows`) per (subj, relpath)
  *     under the engine's duplicate-capture order (max (ts, md5);
  *     `KgEngine.above`). This IS the extraction input: canonical triples
  *     are a pure per-subject function of it, so it is the exact state
  *     needed for incremental equivalence.
  *   - base `triples(subj, pred, obj, obj_json, certainty, origin)` — the
  *     canonical output for those captures.
  *   - the capture log and the triple log, one `batch=N` directory per
  *     delta batch (`appendDelta`, directly or per microbatch through
  *     `KgStreaming.pageDeltaStream`). A capture-log row carries `changed`:
  *     it replaced the content, not just the ts of its key's winner.
  *
  * A batch APPENDS the capture rows that replaced a current winner and the
  * re-extracted triples of its content-changed subjects, both from one
  * pass grouped by subject (`appendDelta`). The pass shuffles the batch's
  * candidate pages and only the stored captures of the batch's subjects
  * (a full recrawl shuffles the capture table once), and re-extracts only
  * changed subjects; the base tables are read, never rewritten. The
  * current graph is a VIEW (`currentTriples`): base rows whose subject
  * never appears in the log plus each logged subject's latest batch.
  * `compact` folds the logs into a fresh base at the caller's cadence.
  * `initStore` is `KgJob.run`, whose pass is this one over an empty store,
  * so one pass implements the duplicate-capture rule for base and logs.
  *
  * The view is provably the full rebuild: current winners == the winners of
  * (all pages ever seen), extraction is per-subject pure, and untouched
  * subjects' winners are untouched. `kg_incremental` pins that equivalence
  * against the same DuckDB oracle as `kg_canonical`.
  */
object Incremental {

  /** Initialize the store from a first crawl: clear `path` (a bare run
    * would resume an earlier store's buckets), `KgJob.run` into it, and
    * `register` it. A re-run after a failure is lossless.
    */
  def initStore(
      spark: SparkSession, pages: DataFrame,
      capturesTable: String, triplesTable: String,
      path: String, buckets: Int = KgJob.DefaultBuckets): Unit = {
    clear(spark, path)
    KgJob.run(spark, pages, path, buckets)
    register(spark, capturesTable, triplesTable, path)
  }

  /** Names the store at `path`'s captures and triples tables in the session
    * catalog, with the store's columns. The schemas are given: a store
    * without rows has no parquet footer to infer them from.
    */
  def register(
      spark: SparkSession, capturesTable: String, triplesTable: String, path: String): Unit =
    for ((table, dir, schema) <- Seq(
        (capturesTable, "captures", Encoders.product[Capture].schema),
        (triplesTable, "triples", Encoders.product[CanonTriple].schema)))
      spark.read.schema(schema).parquet(s"$path/$dir")
        .select(schema.fieldNames.toSeq.map(F.col): _*)
        .createOrReplaceTempView(table)

  /** Create empty logs (one empty batch=0 directory each) so log reads never
    * face a missing path. TRUNCATES first: a per-batch overwrite only
    * replaces its own directory, so initializing on top of an old log would
    * otherwise leave stale batch=N directories visible to the view.
    */
  def initLogs(spark: SparkSession, clogPath: String, tlogPath: String): Unit = {
    clear(spark, clogPath, tlogPath)
    import spark.implicits._
    spark.emptyDataset[LoggedCapture].write.mode("overwrite").parquet(s"$clogPath/batch=0")
    spark.emptyDataset[CanonTriple].write.mode("overwrite").parquet(s"$tlogPath/batch=0")
  }

  private def clear(spark: SparkSession, paths: String*): Unit = paths.foreach { p =>
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
  }

  /** Read a log; `batch` materializes from the partition directories. */
  def readLog(spark: SparkSession, logPath: String): DataFrame =
    spark.read.parquet(logPath)

  /** The latest logged capture per (subj, relpath) — by construction each
    * logged row replaced the then-current winner, so the latest batch's row
    * IS the key's current winner whenever the key is logged at all.
    */
  private def latestLogCaptures(clog: DataFrame): DataFrame =
    clog.groupBy("subj", "relpath")
      .agg(F.max_by(F.struct(F.col("ts"), F.col("md5"), F.col("text")), F.col("batch")).as("w"))
      .select("subj", "relpath", "w.*")

  /** Current winning captures = base ⊕ log. The base side is a pure scan:
    * the log's key set broadcasts into an anti-join above it.
    */
  def currentCaptures(baseCaptures: DataFrame, clog: DataFrame): DataFrame =
    baseCaptures.select("subj", "relpath", "ts", "md5", "text")
      .join(clog.select("subj", "relpath").distinct(),
        Seq("subj", "relpath"), "left_anti")
      .unionByName(latestLogCaptures(clog))

  /** Current canonical triples = base ⊕ log. A subject appearing in the
    * triple log is served ONLY by its latest batch (a re-extraction replaces
    * the subject's whole row set — predicates may disappear); all other
    * subjects read from base untouched. A logged subject's `StatsPred` row
    * is its tombstone: a re-extraction to nothing still shadows its base.
    */
  def currentTriples(baseTriples: DataFrame, tlog: DataFrame): DataFrame = {
    // one latest-batch aggregate, broadcast once, serves both sides of the
    // fold: both joins key it on `ls` alone and read `lb` (the coalesce
    // keeps `batch = lb` out of the join keys), so the two build sides are
    // one plan and the second reuses the first's exchange
    val latestBatch = tlog.groupBy(F.col("subj").as("ls")).agg(F.max("batch").as("lb"))
    val cols = Seq("subj", "pred", "obj", "obj_json", "certainty", "origin").map(F.col)
    val latest = tlog
      .join(latestBatch,
        F.col("subj") === F.col("ls") && F.coalesce(F.col("batch") === F.col("lb"), F.lit(false)))
      .select(cols: _*)
      .where(F.col("pred") =!= KgEngine.StatsPred)
    // a logged subject's lb is never null, so a base row without one is
    // a row of an unlogged subject
    baseTriples
      .join(latestBatch, F.col("subj") === F.col("ls"), "left_outer")
      .where(F.col("lb").isNull)
      .select(cols: _*)
      .unionByName(latest)
  }

  /** Append one delta batch to the logs in ONE subject-grouped pass. The
    * pass groups by subject the batch's candidate captures together with
    * the STORED captures of the batch's subjects only: base and earlier
    * log batches, each behind a broadcast left-semi join on the batch's
    * subject set (a full recrawl therefore shuffles the capture table
    * once). Per (subj, relpath):
    *   - the current winner is the max (ts, md5) of the stored rows (logged
    *     rows are monotone, so this is base ⊕ log), the batch winner the max
    *     (ts, md5) of the incoming ones;
    *   - a batch winner that orders above the current winner is a
    *     capture-log row, flagged `changed` when its md5 differs (ts
    *     refreshes are logged unflagged — future batches must see them);
    *   - a subject with any changed row re-extracts from its merged winners
    *     into the triple log, its `StatsPred` row a tombstone that shadows
    *     the subject's base rows even when the extraction yields nothing.
    *
    * Both logs are written from one `SparkRuntime.materialize` of the pass;
    * re-running a failed batch with the same id is lossless. Base tables are
    * only read. The batch id must exceed all previous ones
    * (the caller's crawl counter); a re-run overwrites its own directories
    * and nothing else.
    */
  def appendDelta(
      spark: SparkSession, deltaPages: DataFrame,
      capturesTable: String, clogPath: String, tlogPath: String,
      batch: Int): Unit = {
    require(batch > 0, "batch 0 is the empty init batch")
    // STRICTLY earlier batches only: a crashed batch leaves its own
    // directories behind, and a retry that read its own half-written rows
    // would see the delta as already-current, overwrite batch=N as empty,
    // and lose the batch. Filtering to batch < N makes the retry recompute
    // the identical rows no matter what the failed attempt persisted. Batch
    // 0 is empty, so a log without an earlier batch (the first batch after
    // `initLogs`) is not read.
    val logged = {
      val p = new org.apache.hadoop.fs.Path(clogPath)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p).toSeq
        .map(_.getPath.getName).collect { case s"batch=$n" => n.toInt }
        .exists(n => n > 0 && n < batch)
    }
    val clog =
      if (!logged) Nil
      else Seq(spark.read.schema(LogSchema).parquet(clogPath).where(F.col("batch") < batch))
    val pass = SparkRuntime.materialize(
      batchPass(spark, deltaPages, BucketedStore.read(spark, capturesTable) +: clog).toDF())
    pass.where(F.col("capture").isNotNull).select("capture.*")
      .write.mode("overwrite").parquet(s"$clogPath/batch=$batch")
    pass.where(F.col("triple").isNotNull).select("triple.*")
      .write.mode("overwrite").parquet(s"$tlogPath/batch=$batch")
  }

  /** A capture of one of a batch's subjects: an incoming candidate of the
    * batch, or (`stored`) a winner from the base or an earlier log batch.
    */
  private[graft] final case class BatchCapture(
      subj: String, relpath: String, ts: Long, md5: String, text: String, stored: Boolean)
      extends Ranked

  /** A capture-log row: a batch winner that replaced its key's current winner. */
  private[graft] final case class LoggedCapture(
      subj: String, relpath: String, ts: Long, md5: String, text: String, changed: Boolean)

  /** The capture log's columns: given, the read infers no schema (a job). */
  private val LogSchema = Encoders.product[LoggedCapture].schema.add("batch", IntegerType)

  /** One output row of the batch pass: a capture-log row or a triple-log row. */
  private[graft] final case class BatchRow(
      capture: Option[LoggedCapture], triple: Option[CanonTriple])

  /** The grouped pass of `appendDelta` (over the `stored` base and log
    * captures) and of `KgJob.run` (over none), unmaterialized.
    */
  private[graft] def batchPass(
      spark: SparkSession, deltaPages: DataFrame, stored: Seq[DataFrame] = Nil,
      iterationLimit: Int = Summarize.DefaultIterationLimit): Dataset[BatchRow] = {
    import spark.implicits._
    val cols = Seq("subj", "relpath", "ts", "md5", "text").map(F.col)
    val candidates = KgEngine.candidateRows(deltaPages).withColumn("stored", F.lit(false))
    // the subject set is read off the rows the union groups, so the delta is
    // scanned and matched once per batch: the broadcast's job computes them
    val incoming = if (stored.isEmpty) candidates else SparkRuntime.materialize(candidates)
    // no distinct: a semi-join only probes the key, and an aggregate would
    // cost its own shuffle and job per batch; the broadcast holds one row
    // per candidate page instead of one per subject
    val subjs = F.broadcast(incoming.select("subj"))
    stored.map(_.select(cols: _*)
        .join(subjs, Seq("subj"), "left_semi")
        .withColumn("stored", F.lit(true)))
      .foldLeft(incoming)(_ unionByName _)
      .groupBy("subj").as[String, BatchCapture]
      .flatMapGroups(batchRows(iterationLimit))
  }

  /** One subject's capture-log rows and, if any of them changed content,
    * its re-extracted triples and `StatsPred` row.
    */
  private def batchRows(iterationLimit: Int)(
      subj: String, caps: Iterator[BatchCapture]): Iterator[BatchRow] = {
    val current = mutable.HashMap[String, BatchCapture]()
    val incoming = mutable.HashMap[String, BatchCapture]()
    caps.foreach { c =>
      val best = if (c.stored) current else incoming
      if (best.get(c.relpath).forall(KgEngine.above(c, _))) best(c.relpath) = c
    }
    val logged = incoming.values.toList.flatMap { w =>
      val cur = current.get(w.relpath)
      if (cur.forall(KgEngine.above(w, _)))
        Some(LoggedCapture(subj, w.relpath, w.ts, w.md5, w.text, cur.forall(_.md5 != w.md5)))
      else None
    }
    val rows = logged.iterator.map(c => BatchRow(Some(c), None))
    if (!logged.exists(_.changed)) rows
    else {
      val files = current.map { case (r, c) => r -> c.text } ++
        logged.map(c => c.relpath -> c.text)
      rows ++ KgEngine.summarizeSubject(subj, files, iterationLimit)
        .map(t => BatchRow(None, Some(t)))
    }
  }

  /** Per-batch maintenance lineage from the logs alone (no base scan):
    * (batch, replaced_captures, changed_captures, changed_subjects,
    * appended_triples) — the observability row a production batch reports
    * next to KgJob's bucket lineage. A changed subject is one tombstone
    * (`StatsPred`) row, which doesn't count as a triple;
    * batch 0 (the empty init marker) is excluded.
    */
  def batchStats(clog: DataFrame, tlog: DataFrame): DataFrame = {
    val caps = clog.where(F.col("batch") > 0).groupBy("batch").agg(
      F.count(F.lit(1)).as("replaced_captures"),
      F.count_if(F.col("changed")).as("changed_captures"))
    val tris = tlog.where(F.col("batch") > 0).groupBy("batch").agg(
      F.count_if(F.col("pred") === KgEngine.StatsPred).as("changed_subjects"),
      F.count_if(F.col("pred") =!= KgEngine.StatsPred).as("appended_triples"))
    caps.join(tris, Seq("batch"), "full_outer").na.fill(0)
  }

  /** Fold the logs into a fresh store at `outPath` (KgJob's per-bucket
    * tables and manifest), registered under the given names — the amortized
    * O(store) pass.
    */
  def compact(
      spark: SparkSession,
      capturesTable: String, triplesTable: String,
      clogPath: String, tlogPath: String,
      outCapturesTable: String, outTriplesTable: String, outPath: String,
      buckets: Int = KgJob.DefaultBuckets): Unit = {
    clear(spark, outPath)
    KgJob.publish(spark, outPath, buckets,
      "captures" -> currentCaptures(BucketedStore.read(spark, capturesTable),
        readLog(spark, clogPath)),
      "triples" -> currentTriples(BucketedStore.read(spark, triplesTable),
        readLog(spark, tlogPath)))
    register(spark, outCapturesTable, outTriplesTable, outPath)
    initLogs(spark, s"$outPath/clog", s"$outPath/tlog")
  }
}
