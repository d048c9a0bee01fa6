package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.spark.TrainingOps

/** Non-degenerate multimodal vectors: the all-black oracle payloads keep
  * the resize fingerprint closed-form but exercise the pixel walk with
  * zero variation — an off-by-one in the row offset or padding math would
  * still pass. These vectors pin the walk against expected values computed
  * with an INDEPENDENT implementation of the resample spec (python,
  * tools-side), and the variable-size clip pins the by-declared-size frame
  * walk.
  */
class MultimodalVectorsSpec extends AnyFunSuite with SparkSuite {

  test("patterned-BMP resize matches independently computed fingerprints") {
    import spark.implicits._
    val vectors = Seq(
      // (id, w, h) → independently expected (w2, h2, n_bytes, md5-of-hex)
      (9000101L, 5, 4, 3, 2, 18, "9cc5066ccdc60155acba13c3ac3647e8"),
      (9000202L, 1, 1, 1, 1, 3, "d594a8c1fba2e7ddddabc879494fe180"),
      (9000303L, 16, 9, 8, 5, 120, "de5f80582e10e865bf99d478d3bfa579"),
      (9000404L, 7, 3, 4, 2, 24, "1330063246487271c3cb343eb80bf3e9"))
    val media = spark.createDataFrame(
      vectors.map { case (id, w, h, _, _, _, _) =>
        (id, TrainingOps.syntheticBmpPattern(id, w, h)) }).toDF("doc_id", "blob")
    val out = TrainingOps.resizeMediaBatch(spark, media)
      .collect().map(r => r.doc_id -> r).toMap
    vectors.foreach { case (id, _, _, w2, h2, n, md5) =>
      val r = out(id)
      assert((r.width, r.height, r.n_pixel_bytes) == ((w2, h2, n)), s"dims for $id")
      assert(r.pixel_md5 == md5, s"pixel walk diverged for vector $id")
    }
  }

  test("a patterned payload differs from the all-black fingerprint") {
    import spark.implicits._
    val black = spark.createDataFrame(Seq(
      (1L, TrainingOps.syntheticBmpPattern(9000101L, 5, 4, black = true)),
      (2L, TrainingOps.syntheticBmpPattern(9000101L, 5, 4)))).toDF("doc_id", "blob")
    val rs = TrainingOps.resizeMediaBatch(spark, black).collect()
      .map(r => r.doc_id -> r.pixel_md5).toMap
    assert(rs(1L) != rs(2L))
  }

  test("variable-size clip walk advances by each frame's declared size") {
    import spark.implicits._
    // id=9: 4 frames, sampled 0 and 2; frame dims follow the varied formulas
    val clips = spark.createDataFrame(Seq(
      (9L, TrainingOps.syntheticClipVaried(9L)))).toDF("doc_id", "blob")
    val out = TrainingOps.sampleFrames(spark, clips).collect()
      .map(f => (f.frame_idx, f.width, f.height)).toSet
    assert(out == Set(
      (0, 1 + 9 % 16, 1 + 9 % 12),
      (2, 1 + (9 + 6) % 16, 1 + (9 + 10) % 12)))
  }
}
