package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{functions => F}

/** Skew handling evidence: AQE splits the hot partition of a skewed shuffle
  * join at runtime (the complement of the explicit salting in
  * KgEngine.linkEntitiesShuffleSalted — salting is for engines/paths where
  * AQE can't see the skew, AQE covers the rest).
  */
class SkewJoinSpec extends AnyFunSuite with SparkSuite {

  test("AQE splits the skewed partition of a hot-key shuffle join") {
    withConf(
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      // thresholds scaled down so a unit-test-sized hot key counts as skew
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB") {
      import spark.implicits._
      // 200k mentions, 90% on one hot term — the head-domain shape
      val mentions = spark.range(200000).select(
        F.col("id").as("subj"),
        F.when(F.pmod(F.col("id"), F.lit(10)) < 9, "github.com")
          .otherwise(F.concat(F.lit("host"), F.pmod(F.col("id"), F.lit(97)))).as("term"))
      val registry = spark.range(100).select(
        F.concat(F.lit("host"), F.col("id")).as("term"),
        F.concat(F.lit("ent"), F.col("id")).as("entity_id"))
        .unionByName(Seq(("github.com", "ent_gh")).toDF("term", "entity_id"))

      val joined = mentions.join(registry, Seq("term"))
      // materialize THIS dataframe's own query execution so its adaptive
      // plan finalizes (count() would spawn a separate execution)
      val n = joined.collect().length
      assert(n == 200000 * 9 / 10 + (0 until 200000).count(i => i % 10 == 9 && i % 97 < 100))

      // the finalized adaptive plan must mark the hot partition as skew-split
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"), finalPlan.take(2000))
    }
  }
}
