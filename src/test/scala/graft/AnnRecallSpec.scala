package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, MapPartitionsExec}
import graft.spark.TrainingOps

/** Retrieval-QUALITY gate for the bucketed ANN paths: the determinism
  * oracles (ann_lsh / ann_ivf) pin reproducibility but would not fail if
  * bucketing returned poor neighbors. This spec measures recall@10 of
  * annLsh and annIvf against annBruteForce on a clustered synthetic corpus
  * — the workload ANN exists for (near-uniform vectors have no meaningful
  * neighbors) — and asserts a floor, so a change that degrades bucket
  * quality fails loudly. Measured values are recorded in BASELINE.md.
  */
class AnnRecallSpec extends AnyFunSuite with SparkSuite {

  override def withFixture(test: NoArgTest) =
    withConf("spark.sql.shuffle.partitions" -> "8")(super.withFixture(test))

  /** 20 tight clusters × 50 members, dim 64. vec_id = member*20 + cluster,
    * so query ids 0..9 are member 0 of ten DIFFERENT clusters and each
    * query's true neighborhood is its own cluster (intra-cluster cosine
    * ≈ 0.997 at noise 0.05; inter-cluster ≈ uniform-random). Fully
    * deterministic — centers and noise come from the splitmix64 finalizer.
    */
  private def clusteredCorpus(): DataFrame = {
    import spark.implicits._
    spark.range(20L * 50).map(id => (id, AnnRecallSpec.clusteredVec(id)))
      .toDF("vec_id", "embedding")
  }

  private def topk(df: DataFrame): Map[Long, Set[Long]] =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }

  test("recall@10 of the bucketed ANN paths on clustered vectors") {
    val corpus = clusteredCorpus()
    val brute = topk(TrainingOps.annBruteForce(corpus))
    assert(brute.size == 10 && brute.values.forall(_.size == 10))
    // ground truth sanity: a query's brute-force neighborhood IS its cluster
    brute.foreach { case (q, ids) =>
      assert(ids.forall(id => id % 20 == q % 20), s"query $q neighborhood off-cluster")
    }
    def recall(ann: Map[Long, Set[Long]]): Double =
      brute.map { case (q, truth) =>
        (truth & ann.getOrElse(q, Set.empty)).size.toDouble / truth.size
      }.sum / brute.size
    val lsh = recall(topk(TrainingOps.annLsh(corpus)))
    val ivf = recall(topk(TrainingOps.annIvf(corpus)))
    // the trained quantizer must do at least as well as the random seeds
    // it replaces: after two Lloyd's iterations over 20 tight clusters the
    // 16 cells settle onto cluster mass, so a query's probe set covers its
    // own cluster
    val trained = recall(topk(TrainingOps.annIvf(corpus,
      cents = TrainingOps.trainIvfCentroids(corpus))))
    info(f"recall@10 vs brute: annLsh=$lsh%.3f annIvf=$ivf%.3f annIvfTrained=$trained%.3f")
    // floors the deterministic buckets actually meet, with headroom for
    // future parameter tweaks but not for a broken bucketing scheme
    assert(lsh >= 0.8, f"annLsh recall@10 $lsh%.3f below 0.8")
    assert(ivf >= 0.8, f"annIvf recall@10 $ivf%.3f below 0.8")
    assert(trained >= ivf - 1e-9,
      f"k-means training must not LOSE recall: trained=$trained%.3f seed=$ivf%.3f")
    assert(trained >= 0.8, f"annIvf trained recall@10 $trained%.3f below 0.8")
  }

  /** The query-side predicate of `op` reaches the scan: of the scans under
    * its `passes` per-vector passes (a typed mapPartitions or a generator),
    * exactly one carries vec_id < 10.
    */
  private def assertQueryBoundPushed(op: DataFrame => DataFrame, passes: Int): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("annpush").toString
    try {
      clusteredCorpus().write.mode("overwrite").parquet(dir)
      val plan = op(spark.read.parquet(dir)).queryExecution.sparkPlan
      val sigScans = plan.collect { case m @ (_: MapPartitionsExec | _: GenerateExec) =>
        m.collect { case s: FileSourceScanExec => s }
      }.flatten
      assert(sigScans.size == passes, plan.treeString)
      val pushed = sigScans.map(_.metadata.getOrElse("PushedFilters", ""))
      assert(pushed.count(_.contains("LessThan(vec_id,10)")) == 1, pushed.mkString("; "))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("annLsh pushes the query-side vec_id predicate into the scan") {
    // the two signature passes (corpus and queries, each a generator over
    // the signature expression) each sit on their own scan; only the query
    // side's may carry the vec_id bound
    assertQueryBoundPushed(TrainingOps.annLsh(_), passes = 2)
  }

  test("ann_lsh plans no result sort") {
    // the rank is the operator's window; the result is a multiset, so a
    // final orderBy would be a range exchange and a sort of dead work
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val dir = java.nio.file.Files.createTempDirectory("ann_lsh_plan").toString
    clusteredCorpus().write.parquet(s"$dir/embeddings.parquet")
    val plan = SparkEntry.queries("ann_lsh")(spark, dir).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    assert(plan.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }.isEmpty, s"result sort in ann_lsh:\n$plan")
  }

  test("annIvf pushes the query-side vec_id predicate into the scan") {
    // the probe pass is the one mapPartitions (cell assignment is a map)
    assertQueryBoundPushed(TrainingOps.annIvf(_), passes = 1)
  }

  test("recall@10 on the near-uniform testdata embeddings (reported, loose floor)") {
    // uniform-ish vectors are the ADVERSARIAL case for bucketed ANN — the
    // top-10 of a query sits barely above the bulk, so bucket misses are
    // expected; this measurement documents the gap honestly and the loose
    // floor only catches a collapse (e.g. everything hashing to one bucket
    // returns nothing)
    val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val brute = topk(TrainingOps.annBruteForce(corpus))
    def recall(ann: Map[Long, Set[Long]]): Double =
      brute.map { case (q, truth) =>
        (truth & ann.getOrElse(q, Set.empty)).size.toDouble / truth.size
      }.sum / brute.size
    val lsh = recall(topk(TrainingOps.annLsh(corpus)))
    val ivf = recall(topk(TrainingOps.annIvf(corpus)))
    val trained = recall(topk(TrainingOps.annIvf(corpus,
      cents = TrainingOps.trainIvfCentroids(corpus))))
    info(f"uniform-corpus recall@10 vs brute: annLsh=$lsh%.3f annIvf=$ivf%.3f " +
      f"annIvfTrained=$trained%.3f")
    // measured on this corpus: annLsh 0.040 (≈16 candidates/query out of
    // 1000 — the price of 256-bucket tables on structureless vectors),
    // annIvf 0.380 (nprobe/nlist = 1/4 of the corpus scored). Floors at
    // half the measured values: they catch a collapse, not noise.
    assert(lsh >= 0.02, f"annLsh uniform recall@10 $lsh%.3f below 0.02")
    assert(ivf >= 0.19, f"annIvf uniform recall@10 $ivf%.3f below 0.19")
  }
}

/** Serializable corpus generator (a spec-instance closure would drag the
  * scalatest Engine into the task).
  */
object AnnRecallSpec {
  private def mix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  private def unit(h: Long): Double = h.toDouble / Long.MaxValue.toDouble

  def clusteredVec(id: Long): Array[Float] = {
    val cluster = (id % 20).toInt
    Array.tabulate(64) { d =>
      val center = unit(mix64(0x5EED0000L + (cluster.toLong << 20) + d))
      val noise = unit(mix64((id << 24) ^ d.toLong ^ 0x0A11CEL)) * 0.05
      (center + noise).toFloat
    }
  }
}
