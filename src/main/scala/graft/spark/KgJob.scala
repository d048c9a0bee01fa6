package graft.spark

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession, functions => F}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** The full production-shaped job: pages → triples / nodes / edges / lineage
  * tables, written in ONE input pass as bucket-partitioned parquet with a
  * commit manifest so a restarted run resumes without re-emitting committed
  * partitions (north rule).
  *
  * Layout under `outDir`:
  *   triples/bucket=N/…parquet     nodes/…  edges/…  lineage/…
  *   _manifest/bucket_N            (one marker file per committed bucket)
  *   _manifest/buckets             (the bucket count, written by the first run)
  */
object KgJob {

  val DefaultBuckets = 16

  /** Manifest I/O goes through the Hadoop FileSystem API, not java.nio: on a
    * real cluster the commit markers must live on the JOB's filesystem
    * (HDFS / object store) next to the tables, or resume breaks the moment a
    * driver is replaced. Locally `file:` resolves to the same paths as
    * before.
    */
  private def fs(outDir: String, conf: Configuration): FileSystem =
    new Path(outDir).getFileSystem(conf)

  def manifestDir(outDir: String): Path = new Path(outDir, "_manifest")

  def committedBuckets(outDir: String,
                       conf: Configuration = new Configuration()): Seq[Int] = {
    val f = fs(outDir, conf)
    val dir = manifestDir(outDir)
    if (!f.exists(dir)) return Nil
    f.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("bucket_") => s.stripPrefix("bucket_").toInt }
      .sorted
  }

  /** Records the bucket count in `_manifest/buckets` on the first run and
    * rejects a run with another count: the subject hash depends on it, so
    * the commit markers would name other subjects' buckets.
    */
  private def checkBucketCount(f: FileSystem, outDir: String, buckets: Int): Unit = {
    val p = new Path(manifestDir(outDir), "buckets")
    if (f.exists(p)) {
      val in = f.open(p)
      val recorded =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
        finally in.close()
      require(recorded == buckets,
        s"$outDir was written with $recorded buckets; a run with buckets = $buckets cannot resume it")
    } else {
      val out = f.create(p, false)
      try out.write(buckets.toString.getBytes("UTF-8")) finally out.close()
    }
  }

  /** Runs (or resumes) the KG construction job. Returns the number of
    * buckets processed in this invocation.
    *
    * ONE pass over the input regardless of bucket count: completed buckets
    * are filtered out up front, the bucket column is derived from each
    * triple's subject after extraction, and all five tables land via
    * `partitionBy("bucket")` with dynamic partition overwrite (only the
    * re-run buckets' directories are replaced — committed buckets are never
    * touched, so a resume never re-emits). Lineage and metrics follow the
    * same per-bucket protocol, so a resumed run cannot duplicate their rows.
    *
    * Before the first write, every todo bucket's `bucket=N` directory is
    * deleted in all five tables: todo buckets are uncommitted by definition,
    * so a partition a crashed attempt left behind cannot survive even when
    * this run emits no rows for it in some table.
    *
    * `buckets` also sets the sink's write parallelism: the extracted
    * triples are hash-partitioned by bucket into `buckets` tasks, so each
    * table writes each bucket from one task as one file (the hash may put
    * two buckets in one task). Size it at or above the core count.
    * The count is recorded in `_manifest/` on the first run; resuming with
    * a different count fails rather than mixing two subject hashes.
    *
    * Durability granularity is the INVOCATION: commit markers land after the
    * invocation's writes finish, so a mid-run crash redoes this invocation's
    * buckets (task-level atomicity comes from the file committer; dynamic
    * overwrite makes the redo idempotent). To bound that loss window on very
    * long runs, cap `maxBucketsPerRun` and loop — each invocation still
    * scans the input once, over only the still-uncommitted subjects.
    */
  def run(
      spark: SparkSession,
      pages: DataFrame,
      outDir: String,
      buckets: Int = DefaultBuckets,
      maxBucketsPerRun: Int = Int.MaxValue,
      iterationLimit: Int = graft.pipeline.Summarize.DefaultIterationLimit
  ): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val f = fs(outDir, conf)
    f.mkdirs(manifestDir(outDir))
    checkBucketCount(f, outDir, buckets)
    val done = committedBuckets(outDir, conf).toSet
    val todo = (0 until buckets).filterNot(done).take(maxBucketsPerRun)
    if (todo.isEmpty) return 0

    val remaining =
      if (todo.size == buckets) pages
      else KgEngine.resumeFilter(pages, ((0 until buckets).toSet -- todo).toSeq, buckets)

    // todo buckets are uncommitted: clear what a crashed attempt left of them
    for (table <- Seq("triples", "edges", "nodes", "lineage", "metrics"); b <- todo)
      f.delete(new Path(s"$outDir/$table/bucket=$b"), true)

    def write(df: DataFrame, table: String): Unit =
      df.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(s"$outDir/$table")

    // triples: the heavy pass — extracted once (with the per-subject error
    // channel riding as marker rows), bucketed by subject hash and clustered
    // by bucket, so every table writes one file per bucket and the per-bucket
    // aggregates below need no further exchange
    val all = KgEngine.extractCanonicalWithStats(spark, remaining, iterationLimit).toDF()
      .withColumn("bucket", KgEngine.bucketOf(F.col("subj"), buckets))
      .repartition(buckets, F.col("bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val canon = all.where(F.col("pred") =!= KgEngine.StatsPred)
    try {
      write(canon, "triples")
      // edges/nodes derive from the cached triples, not a fresh input scan —
      // through the ONE engine definition of edge/node (KgEngine)
      val e = KgEngine.edgesDf(canon, carry = Seq("bucket"))
      write(e, "edges")
      write(KgEngine.nodesDf(e, carry = Seq("bucket")), "nodes")

      // per-bucket lineage: input and candidate pages (KgEngine.lineage),
      // plus the per-subject error channel (provider errors + known-bad
      // drops) aggregated from the cached stats markers — SURVEY §1.3's
      // lineage(partition_id, input_rows, emitted, dropped_bad, errors),
      // keyed by bucket
      val statsByBucket = all.where(F.col("pred") === KgEngine.StatsPred)
        .groupBy("bucket")
        .agg(F.sum(F.col("obj").cast("long")).as("errors"),
          F.sum(F.col("obj_json").cast("long")).as("dropped_bad"))
      val lin = KgEngine.lineage(remaining, buckets)
        .join(statsByBucket, Seq("bucket"), "left")
        .select(F.col("bucket"), F.col("input_rows"), F.col("emitted"),
          F.coalesce(F.col("dropped_bad"), F.lit(0L)).as("dropped_bad"),
          F.coalesce(F.col("errors"), F.lit(0L)).as("errors"))
      write(lin, "lineage")

      // per-bucket output metrics from the cached triples (north rule:
      // lineage + metrics rows per partition)
      val met = canon.groupBy("bucket")
        .agg(F.count(F.lit(1)).as("n_triples"),
          F.countDistinct("subj").as("n_subjects"),
          F.max("certainty").as("max_certainty"))
      write(met, "metrics")
    } finally all.unpersist()

    // commit markers: a bucket is durable once all five tables landed
    todo.foreach(b =>
      f.create(new Path(manifestDir(outDir), s"bucket_$b"), true).close())
    todo.size
  }

  /** Runs the job over `$SPARK_GRAFT_SF_DIR/documents.parquet` into
    * `$SPARK_GRAFT_OUT` in a `SparkRuntime.builder` session on
    * `SPARK_GRAFT_CPUS` cores (so 8 × cores shuffle partitions), and prints
    * one JSON line.
    */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_OUT", "/tmp/graft_kg_out")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = SparkRuntime.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val pages = SynthPages.fromDocuments(
      spark.read.parquet(s"$sfDir/documents.parquet"))
    val n = run(spark, pages, outDir)
    val total = spark.read.parquet(s"$outDir/triples").count()
    println(s"""{"buckets_processed":$n,"committed":${committedBuckets(outDir).size},"triples":$total}""")
    spark.stop()
  }
}
