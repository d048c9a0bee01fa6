package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.execution.{LogicalRDD, SortExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.util.LongAccumulator
import graft.spark.SparkRuntime

/** The contract of `SparkRuntime`: `materialize` computes its input once
  * for all consumers, and keeps its partitioning only with AQE off;
  * `builder` sets the Bench shuffle partitioning.
  */
class SparkRuntimeSpec extends AnyFunSuite with SparkSuite with AdaptiveSparkPlanHelper {

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

  test("materialize computes its input once for two consumers run as concurrent stages") {
    // two aggregates of one materialized input, joined: AQE submits their
    // two shuffle-map stages at once. Two partitions that take ~0.5 s each
    // keep both stages' tasks running side by side on the 4 cores.
    val acc = spark.sparkContext.longAccumulator("concurrent")
    val tick = F.udf { (id: Long) => Thread.sleep(1); acc.add(1); id }.asNondeterministic()
    val t = SparkRuntime.materialize(
      spark.range(0, N, 1, 2).select(tick(F.col("id")).as("id"), (F.col("id") % 7).as("k")))
    val rddId = t.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }.head
    // (submission, completion) of every stage that reads the materialized rdd
    val readers = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val info = e.stageInfo
        if (info.rddInfos.exists(_.id == rddId))
          for (s <- info.submissionTime; c <- info.completionTime) readers.add((s, c))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val counts = t.groupBy("k").agg(F.count(F.lit(1)).as("n"))
      val sums = t.groupBy("k").agg(F.sum("id").as("s"))
      val rows = counts.join(sums, "k").collect()
      assert(rows.map(_.getAs[Long]("n")).sum == N)
      assert(rows.map(_.getAs[Long]("s")).sum == (0L until N).sum)
      val deadline = System.nanoTime() + 10000000000L
      while (readers.size < 2 && System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.sparkContext.removeSparkListener(listener)
    val spans = readers.toArray(Array.empty[(Long, Long)]).toSeq
    assert(spans.size >= 2, spans)
    assert(spans.combinations(2).exists { case Seq((s1, c1), (s2, c2)) => s1 < c2 && s2 < c1 },
      s"the two reading stages did not overlap: $spans")
    // each row computed once: a second task of the same partition waits
    // for the first one's block instead of computing it again
    assert(acc.value == N)
  }

  test("materialize keeps the input's partitioning") {
    // AQE off; with AQE on it does not (the next test)
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val t = SparkRuntime.materialize(
        spark.range(N).select((F.col("id") % 7).as("k")).repartition(F.col("k")))
      val plan = t.groupBy("k").count().queryExecution.executedPlan
      assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty, plan.toString)
    }
  }

  test("under AQE, materialize keeps neither partitioning nor ordering; persist keeps both") {
    // the engine's setting: AQE on
    withConf("spark.sql.adaptive.enabled" -> "true") {
      def input = spark.range(N).select((F.col("id") % 7).as("k"), F.col("id"))
        .repartition(4, F.col("k")).sortWithinPartitions("k")
      def exchanges(df: DataFrame) = collect(df.groupBy("k").count().queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e
      }
      def sorts(df: DataFrame) = collect(df.sortWithinPartitions("k").queryExecution.executedPlan) {
        case s: SortExec => s
      }
      // both computed before they are read, as KgJob's first write does
      val checkpointed = SparkRuntime.materialize(input)
      assert(checkpointed.count() == N)
      assert(exchanges(checkpointed).nonEmpty)
      assert(sorts(checkpointed).nonEmpty)
      val persisted = input.persist()
      try {
        assert(persisted.count() == N)
        assert(exchanges(persisted).isEmpty)
        assert(sorts(persisted).isEmpty)
      } finally persisted.unpersist()
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
