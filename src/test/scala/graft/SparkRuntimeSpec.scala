package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.util.LongAccumulator
import graft.spark.SparkRuntime

/** The contract of `SparkRuntime`: `materialize` computes its input once
  * for all consumers and keeps its partitioning; `builder` sets the Bench
  * shuffle partitioning.
  */
class SparkRuntimeSpec extends AnyFunSuite with SparkSuite {

  private val N = 1000

  /** `N` rows (id, k) that count every computation of a row in `acc`. */
  private def counted(acc: LongAccumulator): DataFrame = {
    val tick = F.udf { (id: Long) => acc.add(1); id }.asNondeterministic()
    spark.range(N).select(tick(F.col("id")).as("id"), (F.col("id") % 7).as("k"))
  }

  /** The dedup verification shape: both endpoints of every pair look up
    * the same table through differently-aliased joins that project it
    * differently, so the two lookups share no exchange. Returns Σ k.
    */
  private def bothEndpoints(t: DataFrame): Long =
    spark.range(N).select(F.col("id").as("a"), ((F.col("id") + 1) % N).as("b"))
      .join(t.select(F.col("id").as("a"), F.col("k").as("ka")), "a")
      .join(t.select(F.col("id").as("b")), "b")
      .agg(F.sum("ka")).first().getLong(0)

  private val SumK = (0L until N).map(_ % 7).sum

  test("materialize computes its input once for two aliased consumers") {
    val acc = spark.sparkContext.longAccumulator("materialized")
    assert(bothEndpoints(SparkRuntime.materialize(counted(acc))) == SumK)
    assert(acc.value == N)
  }

  test("without materialize each aliased consumer recomputes the input") {
    val acc = spark.sparkContext.longAccumulator("recomputed")
    assert(bothEndpoints(counted(acc)) == SumK)
    assert(acc.value == 2 * N)
  }

  test("materialize keeps the input's partitioning") {
    // AQE off: the final plan is inspectable before execution
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val t = SparkRuntime.materialize(
        spark.range(N).select((F.col("id") % 7).as("k")).repartition(F.col("k")))
      val plan = t.groupBy("k").count().queryExecution.executedPlan
      assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty, plan.toString)
    }
  }

  test("builder(4) sets 8 × 4 shuffle partitions") {
    // a new session on the shared context: the shared session keeps its conf
    val shared = spark.sparkContext
    val s = SparkRuntime.builder(4).create()
    assert(s.sparkContext eq shared)
    assert(s.conf.get("spark.sql.shuffle.partitions") == "32")
  }
}
