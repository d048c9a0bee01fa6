package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{functions => F}
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Replays ALL 43 reference fixtures as page rows through the Spark engine
  * (scan → candidate filter → shuffle → summarize) and checks the result is
  * identical to the local per-subject pipeline. Guards the scan-side
  * candidate filter and url→(subj, relpath) splitting against drift.
  */
class SparkFixtureReplaySpec extends AnyFunSuite with SparkSuite {

  test("spark engine == local pipeline on all reference fixtures") {
    val testdata = ReferenceDir("testdata")
    import spark.implicits._

    val dirs = Files.list(testdata).iterator().asScala
      .filter(Files.isDirectory(_)).toList.sortBy(_.getFileName.toString)

    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val localExpected = scala.collection.mutable.Map.empty[String, List[(String, String, Int)]]
    for (dir <- dirs) {
      val name = dir.getFileName.toString
      val files = Files.walk(dir).iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(p => dir.relativize(p).toString -> new String(Files.readAllBytes(p), "UTF-8"))
        .filter { case (rel, _) => rel != "expected.yaml" && rel != "required-features" }
        .toMap
      val subj = s"https://replay.invalid/$name/"
      files.foreach { case (rel, content) => rows.append((s"$subj$rel", content)) }
      val (md, _) = graft.pipeline.Summarize.summarize(files, name)
      localExpected(subj) = md.map { dt =>
        val (obj, _) = graft.spark.Model.objForms(dt.value)
        (dt.field, obj, dt.certainty.getOrElse(-1))
      }
    }

    val pages = rows.toList.toDF("url", "text")
      .withColumn("warc_ts", F.to_timestamp(F.lit("2026-07-23 00:00:00")))
      .withColumn("html", F.col("text").cast("binary"))
      .withColumn("lang", F.lit("en"))

    for ((variant, result) <- List(
           "grouped" -> graft.spark.KgEngine.extractCanonical(spark, pages),
           "pre-extracted" -> graft.spark.KgEngine.extractCanonicalPreExtract(spark, pages))) {
      val sparkResult = result
        .collect()
        .groupBy(_.subj)
        .view.mapValues(_.map(t => (t.pred, t.obj, t.certainty)).toList.sorted)
        .toMap

      var mismatches = 0
      for ((subj, expected) <- localExpected) {
        val actual = sparkResult.getOrElse(subj, Nil)
        if (actual != expected.sorted) {
          mismatches += 1
          info(s"MISMATCH [$variant] $subj")
          info(s"  expected: ${expected.sorted}")
          info(s"  actual:   $actual")
        }
      }
      info(s"[$variant] subjects compared: ${localExpected.size}")
      assert(mismatches == 0, s"variant $variant")
    }
  }
}
