package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{functions => F}
import graft.spark.TrainingOps

/** The exact-first dedup composition (`dedupPipeline`): semantics must
  * EQUAL the naive all-pairs operator, while candidate generation touches
  * only one representative per distinct content — the fix for the
  * duplicate-flood n² (10⁶ copies of one boilerplate page share every LSH
  * band; naively that is ~5·10¹¹ intra-bucket candidate pairs from a single
  * bucket).
  */
class DedupPipelineSpec extends AnyFunSuite with SparkSuite {

  override def withFixture(test: NoArgTest) =
    withConf("spark.sql.shuffle.partitions" -> "8")(super.withFixture(test))

  /** Mixed corpus: an exact-duplicate triple, a near-duplicate of it, an
    * exact pair of unrelated text, and a singleton.
    */
  private def mixedCorpus(s: org.apache.spark.sql.SparkSession) = {
    val words = (0 until 100).map(i => s"w$i")
    val base = words.mkString(" ")
    val edited = words.updated(50, "CHANGED").mkString(" ") // 3 of 98 shingles differ
    val other = (0 until 100).map(i => s"z$i").mkString(" ")
    s.createDataFrame(Seq(
      (0L, base), (1L, base), (2L, base),   // exact group A
      (3L, edited),                         // near-dup of A
      (4L, other), (5L, other),             // exact group B
      (6L, "entirely different text here")  // singleton
    )).toDF("doc_id", "text")
  }

  test("dedupPipeline equals naive minhashDedupPairs on a mixed corpus") {
    val s = spark
    val docs = mixedCorpus(s)
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val naive = collect(TrainingOps.minhashDedupPairs(docs, threshold = 0.9))
    val composed = collect(TrainingOps.dedupPipeline(docs, threshold = 0.9))
    assert(composed == naive)
    // the corpus exercises every pair class: intra-group (jaccard 1.0),
    // cross-group near (edited vs the A group), and absent pairs
    assert(naive.map(p => (p._1, p._2)) ==
      Set((0L, 1L), (0L, 2L), (1L, 2L), (0L, 3L), (1L, 3L), (2L, 3L), (4L, 5L)))
    assert(naive.filter(p => p._2 == 3L).forall(p => p._3 > 0.9 && p._3 < 1.0))
  }

  test("dedupPipeline expands groups whose member ids are not adjacent") {
    // a 3-member group (ids 9, 2, 14) and a 2-member near-duplicate group
    // (ids 11, 0) interleaved with singletons: every intra-group pair, every
    // cross-group pair of the two near-duplicate groups, each once, a < b
    val s = spark
    val words = (0 until 100).map(i => s"w$i")
    val base = words.mkString(" ")
    val edited = words.updated(50, "CHANGED").mkString(" ")
    val docs = s.createDataFrame(Seq(
      (9L, base), (5L, "a lone singleton line"), (2L, base), (11L, edited),
      (7L, (0 until 60).map(i => s"z$i").mkString(" ")), (14L, base), (0L, edited)
    )).toDF("doc_id", "text")
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    val naive = collect(TrainingOps.minhashDedupPairs(docs, threshold = 0.9))
    val composed = collect(TrainingOps.dedupPipeline(docs, threshold = 0.9))
    assert(composed == naive)
    assert(naive.map(p => (p._1, p._2)).toSet == Set(
      (2L, 9L), (2L, 14L), (9L, 14L), (0L, 11L),
      (0L, 2L), (0L, 9L), (0L, 14L), (2L, 11L), (9L, 11L), (11L, 14L)))
  }

  test("a 10k-copy duplicate flood collapses before banding: candidates stay O(distinct²)") {
    val s = spark
    import s.implicits._
    val floodText = (0 until 100).map(i => s"w$i").mkString(" ")
    val flood = s.range(10000).map(i => (i, floodText)).toDF("doc_id", "text")
    val distinctDocs = s.range(50)
      .map(i => (100000L + i, (0 until 50).map(j => s"u${i}x$j").mkString(" ")))
      .toDF("doc_id", "text")
    val corpus = flood.unionByName(distinctDocs)

    // the representative corpus after exact collapse: 51 distinct contents
    val reps = corpus.groupBy(F.md5(F.col("text")))
      .agg(F.min("doc_id").as("doc_id"), F.min("text").as("text"))
      .select("doc_id", "text")
    assert(reps.count() == 51)

    // candidate volume over representatives is bounded by distinct², not
    // docs²: naively the flood alone would put 10,050 docs in one band
    // bucket → ≥ 10000·9999/2 ≈ 5·10⁷ candidate pairs; the collapsed
    // corpus can produce at most 51·50/2 = 1275
    val candidates = TrainingOps.minhashCandidatePairs(reps).count()
    assert(candidates <= 51L * 50 / 2)
    val naiveLowerBound = 10000L * 9999 / 2
    assert(naiveLowerBound > 100000L * candidates.max(1L)) // ≥5 orders apart

    // and the composed result still carries the naive semantics: every
    // intra-flood pair at jaccard 1.0, nothing across distinct docs
    val n = TrainingOps.dedupPipeline(corpus, threshold = 0.9).count()
    assert(n == 10000L * 9999 / 2)
  }

  test("joinedHashCode is bit-identical to sliding-window mkString hashCode") {
    // the allocation-free shingle hash must reproduce String.hashCode of
    // the space-joined window exactly — the MinHash signatures (and so the
    // LSH buckets) depend on it
    val rnd = new scala.util.Random(42)
    for (_ <- 0 until 200) {
      val words = Array.fill(1 + rnd.nextInt(12))(
        rnd.alphanumeric.take(rnd.nextInt(8)).mkString) // includes "" words
      val n = 1 + rnd.nextInt(math.min(3, words.length))
      for (i <- 0 to words.length - n) {
        val expected = words.slice(i, i + n).mkString(" ").hashCode
        assert(TrainingOps.joinedHashCode(words, i, n) == expected,
          s"mismatch for ${words.slice(i, i + n).toList}")
      }
    }
  }
}
