package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession, functions => F}

import graft.SparkEntry
import graft.spark.{BucketedStore, Incremental, KgEngine, KgJob, SynthPages, TrainingOps}

/** One timed call into the engine and how to check what it produced.
  *
  * `run` is the only timed part. `rows` turns its result (or, for calls that
  * write files, the files) into the rows compared with the oracle under the
  * key `check`; an empty key means a later part of the op checks this one.
  * `prefixes` are the cumulative prefix actions a traced run times before
  * `run`, each named after the layer it adds on top of the previous one;
  * `run` itself is traced as `layer`.
  */
final case class Part(
    name: String,
    check: String,
    inputRows: Long,
    layer: String,
    run: () => Array[Row],
    prefixes: Seq[(String, () => Unit)] = Nil,
    rows: Array[Row] => Array[Row] = identity,
    extra: () => Seq[(String, Double)] = () => Nil,
    cleanup: () => Unit = () => ())

/** A workload: the program-side set-up it repeats, and its op sequence. */
trait Workload {
  /** Program-side materialization of the generated inputs; repeatable. */
  def materialize(): Unit
  /** One-time set-up after materialization, such as building a store. */
  def prepare(): Unit = ()
  /** The calls of the i-th op of the closed loop, in order. */
  def op(i: Int): Seq[Part]
  /** Input pages the per-subject micro-timings sample from. */
  def pages: DataFrame
  /** The near-duplicate corpus whose candidate join a traced run measures. */
  def dedupDocs: Option[DataFrame] = None
}

object Workloads {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The candidate stage extraction runs first (KgEngine.candidateRows,
    * which is package-private): the candidate pages as (subj, relpath, ts,
    * text). A traced candidate prefix then runs what the extraction prefix
    * after it runs up to its first exchange, and no more.
    */
  def candidates(pages: DataFrame): DataFrame = {
    import pages.sparkSession.implicits._
    pages.select(F.col("url"),
        F.coalesce(F.unix_millis(F.col("warc_ts")), F.lit(Long.MinValue)), F.col("text"))
      .as[(String, Long, String)]
      .flatMap { case (url, ts, text) =>
        if (text == null) None
        else KgEngine.splitSubject(url).filter(sr => KgEngine.isCandidate(sr._2))
          .map { case (subj, rel) => (subj, rel, ts, text) }
      }
      .toDF("subj", "relpath", "ts", "text")
  }

  def rm(path: String): Unit = {
    def go(f: File): Unit = {
      Option(f.listFiles).foreach(_.foreach(go))
      f.delete()
    }
    go(new File(path))
  }

  def dirStats(path: String): (Double, Double) = {
    def files(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(files)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    val fs = files(new File(path))
    (fs.size.toDouble, fs.map(_.length).sum.toDouble)
  }

  /** The SparkEntry.oracleSql entries each workload's checks derive from. */
  val oracles: Map[String, Set[String]] = Map(
    "crawl_build" -> Set("kg_canonical"),
    "small_queries" -> Set("kg_full_enrich", "ann_lsh", "dedup_ngram"))

  def apply(name: String, spark: SparkSession, work: String, seed: Long): Workload = name match {
    case "crawl_build"   => new CrawlBuild(spark, work)
    case "small_queries" => new SmallQueries(spark, work, seed)
    case other           => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

import Workloads._

/** The crawl lifecycle on a replicated synthetic crawl. One op builds the KG
  * with KgJob.run into a fresh output dir, then refreshes a merge-on-read
  * store of the same crawl with one recrawl slice: appendDelta, then the
  * currentTriples view.
  *
  * The store's base holds stale content for every subject with
  * doc_id % 10 == 5; refresh slice j holds the live pages of the subjects with
  * doc_id % 100 == 10j + 5 (1% of the crawl). Op r appends slice r % 10 to
  * fresh logs over the same base, so every op does the same work.
  */
final class CrawlBuild(spark: SparkSession, work: String) extends Workload {
  val Replicas = 2
  val Slices = 10
  // one KgJob bucket per ~500 subjects; the store keeps a bucket per shuffle
  // partition so its scans stay bucketed (see BucketedStore)
  val JobBuckets = 4
  private val storeBuckets = spark.conf.get("spark.sql.shuffle.partitions").toInt
  private val in = s"$work/in"
  private val pagesPath = s"$in/pages.parquet"
  private lazy val nPages = spark.read.parquet(pagesPath).count()
  private lazy val slicePages = (0 until Slices).map(j => slice(j).count())

  def materialize(): Unit = {
    val raw = spark.read.parquet(s"$work/raw/documents.parquet")
    SynthPages.replicate(raw, Replicas).write.mode("overwrite").parquet(s"$in/documents.parquet")
    SynthPages.fromDocuments(spark.read.parquet(s"$in/documents.parquet"))
      .write.mode("overwrite").parquet(pagesPath)
  }

  /** The store's stale base crawl, its refresh slices and the store. */
  override def prepare(): Unit = {
    val live = spark.read.parquet(pagesPath)
    val m = F.pmod(F.regexp_extract(F.col("url"), "proj(\\d+)/", 1).cast("long"), F.lit(100))
    val stale = F.pmod(m, F.lit(10)) === 5
    live.where(!stale)
      .unionByName(live.where(stale)
        .withColumn("warc_ts", F.col("warc_ts") - F.expr("INTERVAL 7 DAYS"))
        .withColumn("text", F.concat(F.col("text"), F.lit("\nSTALE RECRAWL GARBAGE"))))
      .write.mode("overwrite").parquet(s"$in/base.parquet")
    live.where(stale).withColumn("slice", ((m - 5) / 10).cast("int"))
      .write.mode("overwrite").partitionBy("slice").parquet(s"$in/slices")
    Incremental.initStore(spark, spark.read.parquet(s"$in/base.parquet"),
      "crawl_caps", "crawl_tri", s"$in/store", storeBuckets)
  }

  private def slice(j: Int): DataFrame = spark.read.parquet(s"$in/slices/slice=$j")

  def pages: DataFrame = spark.read.parquet(pagesPath)

  private def view(tri: String, tlog: String): Array[Row] =
    Incremental.currentTriples(BucketedStore.read(spark, tri), Incremental.readLog(spark, tlog))
      .select("subj", "pred", "obj").collect()

  /** The view rows the oracle covers after slice j alone: every subject but
    * the stale ones outside slice j.
    */
  private def refreshed(j: Int)(rows: Array[Row]): Array[Row] = rows.filter { r =>
    val subj = r.getString(0).stripSuffix("/")
    val m = (subj.substring(subj.lastIndexOf("proj") + 4).toLong % 100).toInt
    m % 10 != 5 || m == 10 * j + 5
  }

  def op(i: Int): Seq[Part] = {
    val crawl = spark.read.parquet(pagesPath)
    val out = s"$work/out/op-$i"
    val j = i % Slices
    val delta = slice(j)
    val dir = s"$work/store-$i"
    val (clog, tlog) = (s"$dir/clog", s"$dir/tlog")
    Incremental.initLogs(spark, clog, tlog)
    Seq(
      Part("kg_job", "kg_canonical", nPages, "sink",
        run = () => { KgJob.run(spark, crawl, out, buckets = JobBuckets); Array.empty[Row] },
        prefixes = Seq(
          "scan" -> (() => noop(crawl)),
          "candidate" -> (() => noop(candidates(crawl))),
          "summarize" -> (() => noop(KgEngine.extractCanonicalWithStats(spark, crawl).toDF()))),
        rows = _ => spark.read.parquet(s"$out/triples").select("subj", "pred", "obj").collect(),
        extra = () => {
          val (files, bytes) = dirStats(out)
          Seq("sink.files" -> files, "sink.bytes" -> bytes)
        },
        cleanup = () => rm(out)),
      // checked through the view that follows it
      Part("append_delta", "", slicePages(j), "incremental",
        run = () => {
          Incremental.appendDelta(spark, delta, "crawl_caps", clog, tlog, batch = 1)
          Array.empty[Row]
        },
        prefixes = Seq(
          "scan" -> (() => noop(delta)),
          "candidate" -> (() => noop(candidates(delta))),
          "summarize" -> (() => noop(KgEngine.extractCanonical(spark, delta).toDF()))),
        extra = () => {
          val (cf, cb) = dirStats(s"$clog/batch=1")
          val (tf, tb) = dirStats(s"$tlog/batch=1")
          Seq("delta.files" -> (cf + tf), "delta.bytes" -> (cb + tb))
        }),
      Part("current_triples", s"view@$j", 0L, "incremental",
        run = () => view("crawl_tri", tlog), rows = refreshed(j),
        cleanup = () => rm(dir)))
  }
}

/** Read-only calls on generated tables: SparkEntry.queries kg_full_enrich
  * and ann_lsh, and exact-first near-duplicate detection (threshold 1.0)
  * over the doubled documents. The documents include a boilerplate cluster
  * whose members share one shingle set but differ in bytes, so the exact
  * pass cannot collapse them and every LSH band puts the whole cluster into
  * one bucket. One op runs all three in a seed-permuted order.
  */
final class SmallQueries(spark: SparkSession, work: String, seed: Long) extends Workload {
  private val dir = s"$work/in"
  private val doubledPath = s"$dir/doubled.parquet"
  private val order = new scala.util.Random(seed)
    .shuffle(List("kg_full_enrich", "ann_lsh", "dedup_pipeline"))
  private lazy val nDocs = docs.count()
  private lazy val nVecs = spark.read.parquet(s"$dir/embeddings.parquet").count()

  def materialize(): Unit = {
    Seq("documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$work/raw/$t.parquet").write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    // dedup_ngram's corpus: every document twice, as ids 2n and 2n + 1
    val d = docs.select(F.col("doc_id").cast("long"), F.col("text"))
    d.select((F.col("doc_id") * 2).as("doc_id"), F.col("text"))
      .unionByName(d.select((F.col("doc_id") * 2 + 1).as("doc_id"), F.col("text")))
      .write.mode("overwrite").parquet(doubledPath)
  }

  private def docs = spark.read.parquet(s"$dir/documents.parquet")

  def pages: DataFrame = SynthPages.fromDocuments(docs)

  override def dedupDocs: Option[DataFrame] = Some(docs.select("doc_id", "text"))

  def op(i: Int): Seq[Part] = order.map {
    case "ann_lsh" =>
      Part("ann_lsh", "ann_lsh", nVecs, "lsh",
        run = () => SparkEntry.queries("ann_lsh")(spark, dir).collect(),
        prefixes = Seq("scan" -> (() => noop(spark.read.parquet(s"$dir/embeddings.parquet")))))
    case "dedup_pipeline" =>
      val doubled = spark.read.parquet(doubledPath)
      Part("dedup_pipeline", "dedup_ngram", 2 * nDocs, "lsh",
        run = () => TrainingOps.dedupPipeline(doubled, threshold = 1.0)
          .select("a", "b", "jaccard").collect(),
        prefixes = Seq("scan" -> (() => noop(doubled))))
    case "kg_full_enrich" =>
      Part("kg_full_enrich", "kg_full_enrich", nDocs, "enrich",
        run = () => SparkEntry.queries("kg_full_enrich")(spark, dir).collect(),
        prefixes = Seq(
          "scan" -> (() => noop(docs)),
          "candidate" -> (() => noop(candidates(SynthPages.fromDocuments(docs)))),
          "summarize" -> (() =>
            noop(KgEngine.extractCanonical(spark, SynthPages.fromDocuments(docs)).toDF()))))
  }
}
