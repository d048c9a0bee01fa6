package graft.spark

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession, functions => F}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** The full production-shaped job: pages → triples / captures / nodes /
  * edges tables, written in ONE input pass as bucket-partitioned parquet
  * with a commit manifest so a restarted run resumes without re-emitting
  * committed partitions (north rule). Each bucket's commit marker carries
  * its lineage and metrics counts (`lineage`, `metrics`). The output is the
  * incremental store's base (`Incremental`).
  *
  * Layout under `outDir` (every table partitioned like triples):
  *   triples/bucket=N/…parquet     captures/…  nodes/…  edges/…
  *   _manifest/bucket_N            (one marker per committed bucket: its
  *                                  lineage and metrics counts, `name=value`
  *                                  lines)
  *   _manifest/buckets             (the bucket count, written by the first run)
  */
object KgJob {

  val DefaultBuckets = 16

  private val Tables = Seq("triples", "captures", "edges", "nodes")

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

  /** `outDir`'s uncommitted buckets, after recording or checking its count. */
  private def uncommitted(f: FileSystem, outDir: String, buckets: Int): Seq[Int] = {
    f.mkdirs(manifestDir(outDir))
    checkBucketCount(f, outDir, buckets)
    val done = committedBuckets(outDir, f.getConf).toSet
    (0 until buckets).filterNot(done)
  }

  /** Appends `df`, whose rows lead with their `bucket`, as
    * `outDir/table/bucket=N`: only into uncommitted buckets, whose
    * directories are deleted first (a dynamic partition overwrite's staging
    * move took 1.7× the CPU on 32 one-file buckets, 4 local cores).
    */
  private def write(df: DataFrame, outDir: String, table: String): Unit =
    df.write.mode(SaveMode.Append).partitionBy("bucket").parquet(s"$outDir/$table")

  /** A write's task count: a task per bucket, at most one per core, since
    * a write task's fixed cost (it deserializes the Hadoop configuration)
    * outweighs a small bucket's rows. A task writes each bucket as one file.
    */
  private def writeTasks(spark: SparkSession, buckets: Int): Int =
    math.min(buckets, spark.sparkContext.defaultParallelism)

  private def marker(outDir: String, b: Int): Path = new Path(manifestDir(outDir), s"bucket_$b")

  /** The hidden name a marker is written under before it is renamed into
    * place; `committedBuckets` does not count it.
    */
  private[graft] def tempMarker(outDir: String, b: Int): Path =
    new Path(manifestDir(outDir), s".bucket_$b.tmp")

  /** Commits bucket `b` once all of its tables landed: its marker, whose
    * lines are the bucket's `counts` as `name=value`, is written under the
    * hidden temp name and renamed, so a marker is either absent or complete.
    */
  private def commit(f: FileSystem, outDir: String, b: Int, counts: Seq[(String, Any)]): Unit = {
    val tmp = tempMarker(outDir, b)
    val out = f.create(tmp, true)
    try out.write(counts.map { case (k, v) => s"$k=$v\n" }.mkString.getBytes("UTF-8"))
    finally out.close()
    if (!f.rename(tmp, marker(outDir, b)))
      throw new java.io.IOException(s"cannot commit bucket $b of $outDir")
  }

  /** Writes `tables` (rows with a `subj`) into an empty `outDir` per bucket
    * and commits all `buckets`: `Incremental.compact`'s output.
    */
  private[spark] def publish(
      spark: SparkSession, outDir: String, buckets: Int, tables: (String, DataFrame)*): Unit = {
    val f = fs(outDir, spark.sparkContext.hadoopConfiguration)
    val todo = uncommitted(f, outDir, buckets)
    for ((table, df) <- tables)
      write(df.select(KgEngine.bucketOf(F.col("subj"), buckets).as("bucket"), F.col("*"))
        .repartition(writeTasks(spark, buckets), F.col("bucket")), outDir, table)
    todo.foreach(commit(f, outDir, _, Nil))
  }

  private val LineageCols =
    Seq("input_rows", "emitted", "dropped_bad", "errors").map(StructField(_, LongType))
  private val MetricsCols = Seq(StructField("n_triples", LongType),
    StructField("n_subjects", LongType), StructField("max_certainty", IntegerType))

  /** SURVEY §1.3's lineage(partition_id, input_rows, emitted, dropped_bad,
    * errors) of `outDir`'s committed buckets, the partition id being the
    * `bucket` column: a row per bucket with at least one input page.
    */
  def lineage(spark: SparkSession, outDir: String): DataFrame = counts(spark, outDir, LineageCols)

  /** (n_triples, n_subjects, max_certainty, bucket) of `outDir`'s committed
    * buckets: a row per bucket with at least one triple.
    */
  def metrics(spark: SparkSession, outDir: String): DataFrame = counts(spark, outDir, MetricsCols)

  /** The `cols` counts of each committed bucket whose marker holds them all,
    * then the bucket, read on the driver from the markers.
    */
  private def counts(spark: SparkSession, outDir: String, cols: Seq[StructField]): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val f = fs(outDir, conf)
    val rows = committedBuckets(outDir, conf).flatMap { b =>
      val in = f.open(marker(outDir, b))
      val kv = try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
        finally in.close()
      if (!cols.forall(c => kv.contains(c.name))) None
      else Some(Row.fromSeq(cols.map[Any](c =>
        if (c.dataType == IntegerType) kv(c.name).toInt else kv(c.name).toLong) :+ b))
    }
    spark.createDataFrame(rows.asJava, StructType(cols :+ StructField("bucket", IntegerType)))
  }

  /** Runs (or resumes) the KG construction job. Returns the number of
    * buckets processed in this invocation.
    *
    * ONE pass over the input regardless of bucket count: completed buckets
    * are filtered out up front, the bucket column is derived from each
    * row's subject after extraction, and the four tables land via
    * `partitionBy("bucket")` in the re-run buckets only (committed buckets
    * are never touched, so a resume never re-emits, and their markers keep
    * their lineage and metrics counts).
    *
    * The pass is `Incremental.batchPass` over an empty store: it emits each
    * subject's winning captures and its triples plus its `StatsPred` row
    * (the per-subject error channel, for lineage and metrics only).
    *
    * Before the first write, every todo bucket's `bucket=N` directory is
    * deleted in all four tables: todo buckets are uncommitted by definition,
    * so a partition a crashed attempt left behind cannot survive even when
    * this run emits no rows for it in some table.
    *
    * The pass's rows are hash-partitioned by bucket (`writeTasks`), so each
    * table writes each bucket as one file. The count is recorded in
    * `_manifest/` on the first run; resuming with a different count fails
    * rather than mixing two subject hashes.
    *
    * The pass is `persist`ed, not `SparkRuntime.materialize`d: under
    * AQE a local checkpoint keeps neither the bucket partitioning nor the
    * ordering of its input, so the nodes and totals aggregates over it
    * would plan their own exchanges, while a computed in-memory relation
    * keeps both. Lineage and metrics, at most one row per bucket, are
    * combined on the driver from two collected per-bucket aggregates and
    * written into the buckets' commit markers.
    *
    * Durability granularity is the INVOCATION: commit markers land after the
    * invocation's writes finish, so a mid-run crash redoes this invocation's
    * buckets (task-level atomicity comes from the file committer; the
    * up-front delete makes the redo idempotent). To bound that loss window
    * on very long runs, cap `maxBucketsPerRun` and loop — each invocation still
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
    val f = fs(outDir, spark.sparkContext.hadoopConfiguration)
    val todo = uncommitted(f, outDir, buckets).take(maxBucketsPerRun)
    if (todo.isEmpty) return 0

    val remaining =
      if (todo.size == buckets) pages
      else KgEngine.resumeFilter(pages, ((0 until buckets).toSet -- todo).toSeq, buckets)

    // todo buckets are uncommitted: clear what a crashed attempt left of them
    for (table <- Tables; b <- todo)
      f.delete(new Path(s"$outDir/$table/bucket=$b"), true)

    // the heavy pass, extracted once and bucketed by subject hash. Every
    // table's rows lead with the bucket, so the writes share the sort and
    // partition code of one column layout, and the aggregates below need no
    // further exchange. A pass row persists as one struct beside its
    // bucket: every read below then scans the same two columns (a struct's
    // fields are not pruned), and its filters, on the struct's fields, are
    // not in-memory batch filters, so the reads share one columnar iterator
    // and one batch predicate.
    val pass = Incremental.batchPass(spark, remaining, iterationLimit = iterationLimit).toDF()
    val all = pass
      .select(KgEngine.bucketOf(F.coalesce(F.col("capture.subj"), F.col("triple.subj")), buckets)
        .as("bucket"), F.struct(pass.columns.toSeq.map(F.col): _*).as("row"))
      .repartition(writeTasks(spark, buckets), F.col("bucket"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    def read(kind: String): DataFrame =
      all.where(F.col(s"row.$kind").isNotNull).select(F.col("bucket"), F.col(s"row.$kind.*"))
    val rows = read("triple")
    val canon = rows.where(F.col("pred") =!= KgEngine.StatsPred)
    val counts: Int => Seq[(String, Any)] = try {
      write(canon, outDir, "triples")
      write(read("capture").drop("changed"), outDir, "captures")
      // edges/nodes derive from the cached triples, not a fresh input scan —
      // through the ONE engine definition of edge/node (KgEngine)
      val e = KgEngine.edgesDf(canon, carry = Seq("bucket"))
      write(e, outDir, "edges")
      write(KgEngine.nodesDf(e, carry = Seq("bucket")), outDir, "nodes")

      // lineage and metrics hold at most one row per bucket: two per-bucket
      // aggregates, the page lineage (`KgEngine.lineage`, the definition
      // `kg_lineage` checks) and one conditional aggregate over the
      // persisted rows (already partitioned by bucket, so no exchange), are
      // collected as one union, and each bucket's row of each goes into its
      // commit marker. Metrics covers the buckets with triples.
      val isStats = F.col("pred") === KgEngine.StatsPred
      val (pageRows, totalRows) = rows.groupBy("bucket")
        .agg(F.sum(F.when(isStats, F.col("obj").cast(LongType))).as("errors"),
          F.sum(F.when(isStats, F.col("obj_json").cast(LongType))).as("dropped_bad"),
          F.count_if(!isStats).as("n_triples"),
          F.count_if(isStats && F.col("origin") =!= "0").as("n_subjects"),
          F.max(F.when(!isStats, F.col("certainty"))).as("max_certainty"))
        .unionByName(KgEngine.lineage(remaining, buckets), allowMissingColumns = true)
        .collect().partition(r => !r.isNullAt(r.fieldIndex("input_rows")))
      val totals = totalRows.map(r => r.getAs[Int]("bucket") -> r).toMap
      def total(b: Int, c: String): Long = totals.get(b).fold(0L)(_.getAs[Long](c))
      val lineage = pageRows.map { r =>
        val b = r.getAs[Int]("bucket")
        b -> Seq("input_rows" -> r.getAs[Long]("input_rows"), "emitted" -> r.getAs[Long]("emitted"),
          "dropped_bad" -> total(b, "dropped_bad"), "errors" -> total(b, "errors"))
      }.toMap
      val metrics = totals.collect { case (b, r) if r.getAs[Long]("n_triples") > 0 =>
        b -> MetricsCols.map(c => c.name -> r.getAs[Any](c.name))
      }
      b => lineage.getOrElse(b, Nil) ++ metrics.getOrElse(b, Nil)
    } finally all.unpersist()

    todo.foreach(b => commit(f, outDir, b, counts(b)))
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
