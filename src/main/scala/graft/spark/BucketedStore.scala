package graft.spark

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Subject-bucketed publication of the canonical triple table — the storage
  * half of the co-located-join story.
  *
  * Every post-construction consumer of the canonical table keys by subject:
  * the `possible_fields_missing` gates aggregate per subj, the archive /
  * external-directory dispatches self-join the subject's Archive, project
  * and Name subsets, incremental merges re-group on (subj, pred), and the
  * check stage folds per subject. Stored as plain parquet each of those
  * pays a full shuffle of the graph per run. Published through
  * `bucketBy(n, "subj")` the scan itself reports
  * `HashPartitioning(subj, n)`, which satisfies ClusteredDistribution for
  * any key list CONTAINING subj — so subj-keyed aggregates run single-stage
  * and equi-joins between two tables bucketed at the same count (or the
  * table's own subsets) need no exchange on either side. At 100 TB that
  * converts the dominant per-enrichment-round cost from "shuffle the
  * graph" to "read the graph".
  *
  * `sortBy("subj")` additionally orders rows inside each bucket file so
  * sort-merge consumers sort runs, not partitions. Size `buckets` for the
  * TARGET deployment: aim for bucket files in the 128 MB–1 GB range at the
  * stored scale (a 100 TB canonical table wants tens of thousands of
  * buckets, not `DefaultBuckets`) — too few buckets caps downstream
  * parallelism because one task reads one bucket, AND (measured, see
  * BASELINE.md round 6) a bucket count below
  * `spark.sql.shuffle.partitions` silently disables the anchoring
  * entirely: EnsureRequirements prefers the larger partitioning, so both
  * join sides reshuffle and DisableUnnecessaryBucketedScan drops the
  * bucketed scan. Keep buckets ≥ the session's shuffle partitioning.
  *
  * The table registers in the session catalog with an EXTERNAL path, so
  * the parquet lives where the caller says (object store / HDFS in
  * production) and a fresh session re-registers it by calling
  * `publishBySubj` again or `CREATE TABLE ... USING parquet CLUSTERED BY`
  * over the same path.
  */
object BucketedStore {

  /** Publishes `df` as a subj-bucketed, per-bucket-sorted external parquet
    * table, replacing any previous registration of `table`.
    */
  def publishBySubj(df: DataFrame, table: String, path: String,
                    buckets: Int = KgJob.DefaultBuckets): Unit = {
    val spark = df.sparkSession
    // saveAsTable(Overwrite) refuses to change an existing table's bucket
    // spec or location; dropping first makes publish idempotent across
    // sessions and bucket-count changes (external: the drop leaves files,
    // the Overwrite write replaces them)
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    // route each row to the task that owns its bucket BEFORE the write:
    // repartition(n, subj) uses the same pmod(murmur3(subj), n) the bucket
    // assignment does, so every task writes exactly ONE bucket file. The V1
    // bucketed write otherwise emits a file per (task, bucket-present) pair
    // — at 256 tasks × 256 buckets that is a 65k-small-file store whose
    // every subsequent scan pays the footer/open overhead (measured 3-8×
    // wall inflation on the 1.19M-page bench before this line)
    df.repartition(buckets, org.apache.spark.sql.functions.col("subj"))
      .write.format("parquet").mode(SaveMode.Overwrite)
      .option("path", path)
      .bucketBy(buckets, "subj")
      .sortBy("subj")
      .saveAsTable(table)
  }

  /** The bucketed scan — `outputPartitioning = HashPartitioning(subj, n)`
    * as long as `spark.sql.sources.bucketing.enabled` stays at its default.
    */
  def read(spark: SparkSession, table: String): DataFrame = spark.table(table)

  /** The same rows as a plain parquet scan of the table's directory, for a
    * consumer that reshuffles them anyway: Spark keeps a bucketed scan (one
    * task per bucket) below a union even when nothing above uses its
    * partitioning.
    */
  def readUnbucketed(spark: SparkSession, table: String): DataFrame = {
    val t = read(spark, table)
    val dirs = t.inputFiles.map(f => new Path(f).getParent.toString).distinct
    spark.read.schema(t.schema).parquet(dirs.toIndexedSeq: _*)
  }
}
