package graft.spark

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Subject-bucketed publication of the canonical triple table, for
  * consumers that key by subject: the `possible_fields_missing` gates
  * aggregate per subj, the archive / external-directory dispatches self-join
  * subject subsets, and the check stage folds per subject. Published through
  * `bucketBy(n, "subj")` + `sortBy("subj")`, the scan reports
  * `HashPartitioning(subj, n)`, which satisfies ClusteredDistribution for
  * any key list CONTAINING subj, so those aggregates and equi-joins need no
  * exchange (BucketedStoreSpec, `kg_canonical_stored`).
  *
  * Size `buckets` for bucket files of 128 MB–1 GB at the stored scale, and
  * at or above `spark.sql.shuffle.partitions`: below it (measured, see
  * BASELINE.md round 6) EnsureRequirements reshuffles both join sides and
  * DisableUnnecessaryBucketedScan drops the bucketed scan. The table is
  * EXTERNAL: a fresh session re-registers it with `publishBySubj` or
  * `CREATE TABLE ... USING parquet CLUSTERED BY` over the same path.
  *
  * It is not the incremental store's writer: that store's base is KgJob's
  * `bucket=N` output (`Incremental`), whose consumers reshuffle or
  * broadcast it. `read` is a catalog read, so it serves both.
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

  /** A catalog table; for a `publishBySubj` table, the bucketed scan. */
  def read(spark: SparkSession, table: String): DataFrame = spark.table(table)
}
