package graft

import scala.collection.mutable.ArrayBuffer

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.catalyst.expressions.RLike
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, AppendColumns, Join}
import org.apache.spark.sql.execution.{FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.spark.{BucketedStore, Incremental, KgEngine, KgJob, SynthPages}

/** Plan guards for the crawl lifecycle's generated-code working set: the
  * operators that compile classes outside whole-stage codegen stay out of
  * KgJob's sink, the store's batch pass and its view.
  */
class CrawlPlanSpec extends AnyFunSuite with SparkSuite with AdaptiveSparkPlanHelper {

  // cache entries of one warm call on these inputs (`codegenWorkingSet`)
  private val PinnedEntries =
    Map("KgJob.run" -> 47L, "appendDelta" -> 25L, "currentTriples" -> 9L)

  private lazy val pages = SynthPages.fromDocuments(
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").where("doc_id < 40"))

  private def hasAppendColumns(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst { case a: AppendColumns => a }.isDefined

  test("the extraction and the batch pass group by the subj column, appending no key") {
    assert(!hasAppendColumns(KgEngine.extractCanonical(spark, pages).toDF()))
    assert(!hasAppendColumns(KgEngine.extractCanonicalWithStats(spark, pages).toDF()))
    val stored = KgEngine.candidateRows(pages)
    assert(!hasAppendColumns(Incremental.batchPass(spark, pages, Seq(stored)).toDF()))
  }

  test("nodesDf aggregates without a SortAggregate") {
    val canon = KgEngine.extractCanonical(spark, pages).toDF()
    val plan = KgEngine.nodesDf(KgEngine.edgesDf(canon)).queryExecution.executedPlan
    assert(collect(plan) { case s: SortAggregateExec => s }.isEmpty, plan.toString)
  }

  test("currentTriples broadcasts one latest-batch aggregate for both sides of the fold") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("crawl_view").toString
    val base = Seq(("s1", "Name", "a"), ("s2", "Name", "b")).toDF("subj", "pred", "obj")
      .select(F.col("subj"), F.col("pred"), F.col("obj"), F.lit("").as("obj_json"),
        F.lit(1).as("certainty"), F.lit("").as("origin"))
    base.write.parquet(s"$dir/base")
    base.where(F.col("subj") === "s2").withColumn("obj", F.lit("c")).withColumn("batch", F.lit(1))
      .unionByName(base.withColumn("obj", F.lit("d")).withColumn("batch", F.lit(2))
        .where(F.col("subj") === "s2"))
      .write.partitionBy("batch").parquet(s"$dir/tlog")
    val view = Incremental.currentTriples(
      spark.read.parquet(s"$dir/base"), spark.read.parquet(s"$dir/tlog"))
    val builds = view.queryExecution.optimizedPlan.collect { case j: Join => j.right.canonicalized }
    assert(builds.size == 2 && builds.distinct.size == 1, view.queryExecution.optimizedPlan.toString)
    assert(builds.head.collectFirst { case a: Aggregate => a }.isDefined)
    val rows = view.select("subj", "obj")
    assert(rows.collect().map(r => r.getString(0) -> r.getString(1)).toSet ==
      Set("s1" -> "a", "s2" -> "d"))
    // the second build side reads the first one's broadcast
    val plan = rows.queryExecution.executedPlan
    assert(collect(plan) { case r: ReusedExchangeExec => r }.nonEmpty, plan.toString)
  }

  /** The executed plans of the SQL queries `body` runs, with their action
    * names, once `done` holds for those heard of so far: the listener hears
    * of each query asynchronously.
    */
  private def queriesOf(done: Seq[(String, SparkPlan)] => Boolean)(
      body: => Unit): List[(String, SparkPlan)] = {
    val heard = ArrayBuffer.empty[(String, SparkPlan)]
    def now = heard.synchronized(heard.toList)
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        heard.synchronized(heard += f -> qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.nanoTime() + 10000000000L
      while (!done(now) && System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    now
  }

  // the triples, captures, edges and nodes writes and the lineage/metrics
  // totals read KgJob's persisted extraction
  private lazy val jobReads: List[SparkPlan] = {
    def cached(qs: Seq[(String, SparkPlan)]) =
      qs.map(_._2).filter(p => collect(p) { case s: InMemoryTableScanExec => s }.nonEmpty)
    val out = java.nio.file.Files.createTempDirectory("crawl_plan").toString
    cached(queriesOf(cached(_).size >= 5)(KgJob.run(spark, pages, out, buckets = 8))).toList
  }

  test("KgJob's per-bucket aggregates plan no exchange above the persisted extraction") {
    assert(jobReads.size >= 5, jobReads.mkString("\n"))
    assert(jobReads.exists(_.toString.contains("/captures")), jobReads.mkString("\n"))
    for (p <- jobReads) {
      val above = collect(p) {
        case e: ShuffleExchangeExec
            if collect(e.child) { case s: InMemoryTableScanExec => s }.nonEmpty => e
      }
      assert(above.isEmpty, p.toString)
    }
  }

  test("every read of KgJob's persisted extraction scans one column list") {
    val scans = jobReads.flatMap(p => collect(p) {
      case s: InMemoryTableScanExec => s.output.map(a => a.name -> a.dataType)
    })
    assert(scans.size >= 5 && scans.distinct.size == 1, scans.mkString("\n"))
  }

  test("appendDelta matches the candidate regex over the delta pages once per batch") {
    val root = java.nio.file.Files.createTempDirectory("crawl_delta").toString
    val (clog, tlog) = (s"$root/clog", s"$root/tlog")
    Incremental.initStore(spark, pages, "cp_caps", "cp_tri", s"$root/store", buckets = 4)
    Incremental.initLogs(spark, clog, tlog)
    // recaptures of every fifth subject's pages, newer by a day each batch,
    // so batch 2 also reads batch 1's capture-log rows
    val subj5 = F.pmod(F.regexp_extract(F.col("url"), "proj(\\d+)/", 1).cast("long"), F.lit(5)) === 0
    for (batch <- 1 to 2) {
      val delta = pages.where(subj5)
        .withColumn("warc_ts", F.col("warc_ts") + F.expr(s"INTERVAL $batch DAYS"))
      // the last two queries are the two log writes
      val plans = queriesOf(_.count(_._1 == "command") >= 2) {
        Incremental.appendDelta(spark, delta, "cp_caps", clog, tlog, batch)
      }.map(_._2)
      val rlikes = plans.flatMap(p => collect(p) {
        case f: FilterExec => f.condition.collect { case r: RLike => r }
      }.flatten)
      assert(rlikes.size == 1, plans.mkString("\n"))
    }
    assert(Incremental.readLog(spark, clog).where(F.col("batch") === 1).count() > 0)
  }

  test("the crawl calls' codegen working sets stay pinned") {
    // the ceilings are the calls' counts on these inputs; an operator more
    // (e.g. a sort before a write) raises them
    val root = java.nio.file.Files.createTempDirectory("crawl_codegen").toString
    val (clog, tlog) = (s"$root/clog", s"$root/tlog")
    var run = 0
    val job = codegenWorkingSet {
      run += 1
      KgJob.run(spark, pages, s"$root/job$run", buckets = 4)
    }
    Incremental.initStore(spark, pages, "cg_caps", "cg_tri", s"$root/store", buckets = 4)
    Incremental.initLogs(spark, clog, tlog)
    val delta = pages.where(F.col("url").contains("proj1"))
      .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAYS"))
    val append = codegenWorkingSet(Incremental.appendDelta(spark, delta, "cg_caps", clog, tlog, 1))
    val view = codegenWorkingSet(Incremental.currentTriples(
      BucketedStore.read(spark, "cg_tri"), Incremental.readLog(spark, tlog)).collect(): Unit)
    val sets = Map("KgJob.run" -> job, "appendDelta" -> append, "currentTriples" -> view)
    info(s"(compiled, entries): $sets")
    for ((call, (_, entries)) <- sets)
      assert(entries <= PinnedEntries(call), s"$call: $entries cache entries; $sets")
  }
}
