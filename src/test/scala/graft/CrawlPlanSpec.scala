package graft

import scala.collection.mutable.ArrayBuffer

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, AppendColumns, Join}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.spark.{Incremental, KgEngine, KgJob, SynthPages}

/** Plan guards for the crawl lifecycle's generated-code working set: the
  * operators that compile classes outside whole-stage codegen stay out of
  * KgJob's sink, the store's batch pass and its view.
  */
class CrawlPlanSpec extends AnyFunSuite with SparkSuite with AdaptiveSparkPlanHelper {

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

  test("KgJob's per-bucket aggregates plan no exchange above the persisted extraction") {
    val plans = ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized(plans += qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val out = java.nio.file.Files.createTempDirectory("crawl_plan").toString
    def cached = plans.synchronized(plans.toList)
      .filter(p => collect(p) { case s: InMemoryTableScanExec => s }.nonEmpty)
    spark.listenerManager.register(listener)
    try {
      KgJob.run(spark, pages, out, buckets = 8)
      // the listener hears of each query asynchronously; the triples,
      // captures, edges and nodes writes and the lineage/metrics totals read
      // the extraction
      val deadline = System.nanoTime() + 10000000000L
      while (cached.size < 5 && System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    assert(cached.size >= 5, cached.mkString("\n"))
    assert(cached.exists(_.toString.contains("/captures")), cached.mkString("\n"))
    for (p <- cached) {
      val above = collect(p) {
        case e: ShuffleExchangeExec
            if collect(e.child) { case s: InMemoryTableScanExec => s }.nonEmpty => e
      }
      assert(above.isEmpty, p.toString)
    }
  }
}
