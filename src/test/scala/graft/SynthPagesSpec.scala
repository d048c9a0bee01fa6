package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{functions => F}
import org.apache.spark.metrics.source.CodegenMetrics
import graft.spark.SynthPages

/** `SynthPages.fromDocuments` decides whether to spread its input across
  * the cores from the input's partition count, which it must read without
  * executing the input's plan.
  */
class SynthPagesSpec extends AnyFunSuite with SparkSuite {

  /** A documents table over `parts` range partitions. The doc_id offset is
    * unique to the call, so its generated classes are not in the codegen
    * cache yet and a compile shows in the compile count.
    */
  private def documents(parts: Int) = {
    val offset = System.nanoTime()
    spark.range(0, 64, 1, parts).select((F.col("id") + F.lit(offset)).as("doc_id"),
      F.lit("some text").as("text"), F.lit("en").as("lang"))
  }

  test("the input's partition count is read from its plan") {
    for (parts <- Seq(1, 3, 8)) {
      val docs = documents(parts)
      assert(SynthPages.numPartitions(docs) == docs.rdd.getNumPartitions)
    }
    val dir = java.nio.file.Files.createTempDirectory("synth_pages_spec").toString
    documents(4).write.parquet(s"$dir/documents.parquet")
    val scanned = spark.read.parquet(s"$dir/documents.parquet")
    assert(SynthPages.numPartitions(scanned) == scanned.rdd.getNumPartitions)
  }

  test("fromDocuments compiles no class and spreads a narrow input") {
    val cores = spark.sparkContext.defaultParallelism
    for (parts <- Seq(1, cores)) {
      val docs = documents(parts)
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val pages = SynthPages.fromDocuments(docs)
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled)
      val spread = pages.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r
      }.nonEmpty
      assert(spread == (parts < cores), s"$parts partitions")
    }
  }
}
