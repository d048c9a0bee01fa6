package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import graft.spark.{BucketedStore, KgEngine, SynthPages}

/** The subject-bucketed canonical store: published through
  * `bucketBy(n, "subj")`, subj-keyed aggregates and equi-joins consume the
  * scan's own HashPartitioning — no exchange. The content itself must be
  * byte-identical to the unbucketed table.
  */
class BucketedStoreSpec extends AnyFunSuite with SparkSuite {

  private lazy val canon = {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .where("doc_id < 48")
    KgEngine.extractCanonical(spark, SynthPages.fromDocuments(docs)).toDF()
  }

  private def published(name: String): org.apache.spark.sql.DataFrame = {
    BucketedStore.publishBySubj(canon, name, s"/tmp/graft_bucketed_spec/$name", 8)
    BucketedStore.read(spark, name)
  }

  private def shuffles(df: org.apache.spark.sql.DataFrame): Seq[ShuffleExchangeExec] =
    df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }

  private def withStablePlans[A](body: => A): A = withConf(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)

  test("the publish writes exactly one data file per bucket") {
    // the V1 bucketed write emits a file per (task, bucket-present) pair;
    // without the pre-write repartition a many-task input × many buckets
    // publish becomes a small-file store (measured 3-8× scan inflation at
    // 256×256 — BASELINE.md round 6). The repartition routes by the same
    // pmod(murmur3(subj), n) the bucket assignment uses, so each task owns
    // one bucket and the store has exactly n data files.
    val n = 8
    BucketedStore.publishBySubj(
      canon.repartition(16), // more input tasks than buckets, the bad shape
      "canon_files", "/tmp/graft_bucketed_spec/canon_files", n)
    val files = new java.io.File("/tmp/graft_bucketed_spec/canon_files")
      .listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length == n,
      s"expected one data file per bucket, got ${files.length}")
  }

  test("round trip: the published table IS the canonical table") {
    val stored = published("canon_rt")
    assert(stored.columns.sorted.sameElements(canon.columns.sorted))
    val key = Seq("subj", "pred", "obj", "obj_json", "certainty", "origin")
    assert(stored.select(key.map(F.col): _*).except(canon.select(key.map(F.col): _*)).isEmpty)
    assert(canon.select(key.map(F.col): _*).except(stored.select(key.map(F.col): _*)).isEmpty)
  }

  test("a subj-keyed aggregate over the store runs WITHOUT a shuffle") {
    withStablePlans {
      val stored = published("canon_agg")
      // the certain-set gate's exact shape: groupBy(subj) + a bit_or mask
      val gate = stored.groupBy("subj").agg(F.bit_or(F.length(F.col("pred"))).as("ps"))
      assert(shuffles(gate).isEmpty,
        s"bucketed scan must satisfy the (subj) clustering:\n${gate.queryExecution.executedPlan}")
      // a FINER grouping containing subj is also satisfied (HashPartitioning
      // on a subset of the grouping keys clusters every (subj, pred) group)
      val lattice = stored.groupBy("subj", "pred").agg(F.max("certainty"))
      assert(shuffles(lattice).isEmpty,
        s"(subj, pred) grouping must reuse the bucket partitioning:\n${lattice.queryExecution.executedPlan}")
      assert(gate.count() > 0 && lattice.count() > 0)
    }
  }

  test("subject subsets of the store equi-join with NO exchange on either side") {
    withStablePlans {
      val stored = published("canon_join")
      val names = stored.where(F.col("pred") === "Name")
        .select(F.col("subj"), F.col("obj").as("name"))
      val homes = stored.where(F.col("pred") === "Homepage")
        .select(F.col("subj"), F.col("obj").as("homepage"))
      val joined = names.join(homes, Seq("subj"))
      assert(shuffles(joined).isEmpty,
        s"same-bucket-count sides must co-locate:\n${joined.queryExecution.executedPlan}")
      // the co-located join returns the same rows as the shuffled one
      val viaPlain = canon.where(F.col("pred") === "Name")
        .select(F.col("subj"), F.col("obj").as("name"))
        .join(canon.where(F.col("pred") === "Homepage")
          .select(F.col("subj"), F.col("obj").as("homepage")), Seq("subj"))
      assert(joined.count() == viaPlain.count() && joined.except(viaPlain).isEmpty)
    }
  }

  test("the archive dispatch's gate runs single-stage over the stored canon") {
    withStablePlans {
      import spark.implicits._
      val stored = published("canon_enrich").as[graft.spark.Model.CanonTriple]
      val payloads = Seq.empty[(String, String, String)]
        .toDF("archive", "project", "payload")
      val out = KgEngine.enrichFromArchive(stored, payloads)
      val gateShuffles = out.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec if e.child.toString.contains("bit_or") &&
          !e.child.toString.contains("max_by") => e
      }
      assert(gateShuffles.isEmpty,
        "the certain-set gate must consume the bucket partitioning, not re-shuffle")
      // and the dispatch over an empty payload snapshot is the identity
      assert(out.count() == canon.count())
    }
  }
}
