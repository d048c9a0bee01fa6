package graft.tools

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.spark.{Incremental, SparkRuntime, SynthPages}

/** Measures the incremental-maintenance advantage: after a recrawl in which
  * only ~1% of subjects changed content, compare
  *
  *   full_rebuild      — what the non-incremental pipeline does: KgJob.run
  *                       over the entire new crawl into a fresh store (its
  *                       four tables, through Incremental.initStore);
  *   log_full_recrawl  — append the SAME full recrawl to the existing
  *                       store's logs (appendDelta): every page and the
  *                       whole capture table shuffle once into the batch
  *                       pass, but only changed subjects re-extract;
  *   log_changed_only  — append the pre-filtered delta (just the changed
  *                       pages), the shape a diffing crawler hands the
  *                       pipeline.
  *
  * Corpus = SPARK_GRAFT_SCALE × the sf documents table through SynthPages
  * (same family as ScalingBench); churn = subjects with
  * doc_id % SPARK_GRAFT_CHURN_MOD == 0 (default 100 → 1%). The store's
  * bucket count is the session's shuffle partitioning (8 × cores, 256 at the
  * default 32); it sets the store's file count (one file per bucket and
  * table). Emits one JSON line; wall numbers need a quiet window like every
  * bench on this VM.
  */
object IncrementalBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scale = sys.env.getOrElse("SPARK_GRAFT_SCALE", "50").toInt
    // churn = subjects with doc_id % mod == 0; mod=100 → 1%, mod=10 → 10%
    val churnMod = sys.env.getOrElse("SPARK_GRAFT_CHURN_MOD", "100").toInt
    val base = sys.env.getOrElse("SPARK_GRAFT_CORPUS_DIR", "/tmp") +
      s"/graft_incbench_m$churnMod"
    val spark = SparkRuntime.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      .config("spark.sql.warehouse.dir", s"$base/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = SynthPages.replicate(
      spark.read.parquet(s"$sfDir/documents.parquet"), scale)
    val live = SynthPages.fromDocuments(docs)
    val m = F.pmod(
      F.regexp_extract(F.col("url"), "proj(\\d+)/", 1).cast("long"), F.lit(churnMod))
    def corrupt(p: DataFrame) = p
      .withColumn("warc_ts", F.col("warc_ts") - F.expr("INTERVAL 7 DAYS"))
      .withColumn("text", F.concat(F.col("text"), F.lit("\nOLD CONTENT")))

    // materialize crawls to parquet so every measured job starts at a scan
    def mat(df: DataFrame, name: String): DataFrame = {
      val p = s"$base/$name.parquet"
      if (!new java.io.File(p).exists()) df.write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }
    // yesterday's crawl: 1% of subjects carry week-old content
    val baseCrawl = mat(
      live.where(m =!= 0).unionByName(corrupt(live.where(m === 0))), "basecrawl")
    // today's recrawl: everything again, the 1% now at live content
    val fullRecrawl = mat(live, "fullrecrawl")
    val changedOnly = mat(live.where(m === 0), "changedonly")
    val pages = fullRecrawl.count()

    def time[A](body: => A): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }

    // existing store (untimed setup for the log legs)
    val buckets = spark.conf.get("spark.sql.shuffle.partitions").toInt
    Incremental.initStore(spark, baseCrawl, "ib_caps", "ib_tri", s"$base/store",
      buckets)
    val warm = sys.env.getOrElse("SPARK_GRAFT_WARMUPS", "1").toInt
    for (_ <- 0 until warm) { // JIT the extract + append paths once
      Incremental.initStore(spark, changedOnly, "ib_w_caps", "ib_w_tri", s"$base/w", buckets)
      Incremental.initLogs(spark, s"$base/clog", s"$base/tlog")
      Incremental.appendDelta(spark, changedOnly, "ib_caps",
        s"$base/clog", s"$base/tlog", batch = 1)
    }

    val tFull = time(Incremental.initStore(
      spark, fullRecrawl, "ib_full_caps", "ib_full_tri", s"$base/full", buckets))

    // one grouped pass per batch: it shuffles the batch's pages and only the
    // stored captures of the batch's subjects; base tables are never rewritten
    Incremental.initLogs(spark, s"$base/clog", s"$base/tlog")
    val tLogFull = time(Incremental.appendDelta(spark, fullRecrawl, "ib_caps",
      s"$base/clog", s"$base/tlog", batch = 1))
    Incremental.initLogs(spark, s"$base/clog2", s"$base/tlog2")
    val tLogChanged = time(Incremental.appendDelta(spark, changedOnly, "ib_caps",
      s"$base/clog2", s"$base/tlog2", batch = 1))

    // the log view must hold the rebuild's rows (untimed sanity)
    val key = Seq("subj", "pred", "obj", "obj_json", "certainty", "origin").map(F.col)
    val full = spark.table("ib_full_tri").select(key: _*)
    val view = Incremental.currentTriples(
      spark.table("ib_tri"), Incremental.readLog(spark, s"$base/tlog")).select(key: _*)
    require(full.except(view).isEmpty && view.except(full).isEmpty,
      "the log view's triples diverged from the rebuild's")
    val nFull = full.count()

    println(
      f"""{"metric":"incremental_update","pages":$pages,""" +
      f""""churn_pct":${100.0 / churnMod}%.1f,""" +
      f""""full_rebuild_sec":$tFull%.2f,""" +
      f""""log_full_recrawl_sec":$tLogFull%.2f,""" +
      f""""log_changed_only_sec":$tLogChanged%.2f,""" +
      f""""speedup_log_full_recrawl":${tFull / tLogFull}%.2f,""" +
      f""""speedup_log_changed_only":${tFull / tLogChanged}%.2f,"triples":$nFull}""")
    spark.stop()
  }
}
