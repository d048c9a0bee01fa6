package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{functions => F}
import graft.pipeline.{Sinks, Summarize}
import graft.spark.{BucketedStore, Incremental, KgEngine, SynthPages}

/** Duplicate page captures (recrawls inside one batch) must collapse
  * DETERMINISTICALLY: the newest warc_ts wins per (subj, relpath), ties
  * break on content hash, and the rule is identical in the grouped and
  * pre-extract engine variants — independent of shuffle iteration order.
  */
class DuplicateCaptureSpec extends AnyFunSuite with SparkSuite {

  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  private def key(t: graft.spark.Model.CanonTriple) =
    (t.subj, t.pred, t.obj, t.obj_json, t.certainty, t.origin)

  /** base pages + a 7-day-older stale recrawl with corrupted content + an
    * exact same-ts duplicate of the live capture.
    */
  private def withDuplicates(pages: org.apache.spark.sql.DataFrame) = {
    val stale = pages
      .withColumn("warc_ts", F.col("warc_ts") - F.expr("INTERVAL 7 DAYS"))
      .withColumn("text", F.concat(F.col("text"), F.lit("\nSTALE RECRAWL GARBAGE")))
    pages.unionByName(stale).unionByName(pages)
  }

  test("newest capture wins; stale recrawls and same-ts duplicates are inert") {
    val pages = SynthPages.fromDocuments(docs.where("doc_id < 64"))
    val clean = KgEngine.extractCanonical(spark, pages).collect().map(key).toSet
    val dup = KgEngine.extractCanonical(spark, withDuplicates(pages)).collect().map(key).toSet
    assert(dup == clean)
  }

  test("both engine variants agree byte-identically on duplicated input, repeatedly") {
    import spark.implicits._
    val live = SynthPages.fromDocuments(docs.where("doc_id < 48"))
    // the live captures are the winners: render each subject locally
    val clean = live.where("text IS NOT NULL").select("url", "text").collect()
      .flatMap(r => KgEngine.splitSubject(r.getString(0)).map(sr => (sr, r.getString(1))))
      .filter { case ((_, relpath), _) => KgEngine.isCandidate(relpath) }
      .groupBy(_._1._1)
    // the union delivers each stale capture between two live ones; sorting
    // by warc_ts delivers it first or last, so an emit that keeps the first
    // or the last capture instead of the newest fails one of the inputs
    val dup = withDuplicates(live)
    Seq(dup, dup.orderBy("warc_ts"), dup.orderBy(F.desc("warc_ts"))).foreach { pages =>
      val runs = (1 to 2).map { _ =>
        KgEngine.extractCanonical(spark, pages).collect().map(key).toSet
      }
      val pre = KgEngine.extractCanonicalPreExtract(spark, pages).collect().map(key).toSet
      assert(runs(0) == runs(1))
      assert(pre == runs(0))
      // every emit of the per-subject kernel sees the same deduplicated files
      val withStats = KgEngine.splitStats(KgEngine.extractCanonicalWithStats(spark, pages))._1
        .collect().map(key).toSet
      assert(withStats == runs(0))
      // and so does the store's batch pass
      Incremental.initStore(spark, pages, "dc_caps", "dc_tri", "/tmp/graft_dup_spec", buckets = 8)
      assert(BucketedStore.read(spark, "dc_tri").as[graft.spark.Model.CanonTriple]
        .collect().map(key).toSet == runs(0))
      val rendered = KgEngine.extractAndRender(spark, pages, Sinks.toYaml).collect().toMap
      assert(rendered.keySet == clean.keySet)
      clean.foreach { case (subj, rows) =>
        val files = rows.map { case ((_, relpath), text) => relpath -> text }.toMap
        assert(rendered(subj) ==
          Sinks.toYaml(Summarize.summarize(files, KgEngine.subjBasename(subj))._1), subj)
      }
    }
  }

  test("same-ts different-content captures pick the max-md5 content on every run") {
    import spark.implicits._
    // two captures of the same relpath at the same ts with different
    // contents: the winner is the one whose md5 is lexicographically
    // larger, whatever order the shuffle delivers
    val a = Seq(("https://replay.invalid/projX/Cargo.toml",
      "[package]\nname = \"alpha\"\nversion = \"1.0.0\"\n"))
    val b = Seq(("https://replay.invalid/projX/Cargo.toml",
      "[package]\nname = \"beta\"\nversion = \"2.0.0\"\n"))
    def pagesOf(rows: Seq[(String, String)]) = rows.toDF("url", "text")
      .withColumn("warc_ts", F.to_timestamp(F.lit("2026-07-23 00:00:00")))
      .withColumn("html", F.col("text").cast("binary"))
      .withColumn("lang", F.lit("en"))
      .select("url", "warc_ts", "html", "text", "lang")
    val both = pagesOf(a).unionByName(pagesOf(b))
    val flipped = pagesOf(b).unionByName(pagesOf(a))
    def names(p: org.apache.spark.sql.DataFrame) =
      KgEngine.extractCanonical(spark, p).collect()
        .filter(_.pred == "Name").map(_.obj).toList
    val n1 = names(both)
    val n2 = names(flipped)
    val n3 = names(both.repartition(3))
    assert(n1.size == 1)
    assert(n1 == n2 && n2 == n3)
    // md5("...beta...") vs md5("...alpha..."): assert the pick matches the rule
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = if (m(a.head._2) > m(b.head._2)) "alpha" else "beta"
    assert(n1.head == expected)
  }

  test("recrawl-heavy subject: many captures of one file collapse to the winner") {
    import spark.implicits._
    // one hot subject recrawled 1500× (the skew a real crawl has): the
    // incremental fold must pick the same winner as the 2-capture base case;
    // task memory is O(distinct files), so this must also simply complete
    val base = "2026-01-01 00:00:00"
    val many = (0 until 1500).map { i =>
      ("https://replay.invalid/projHot/Cargo.toml",
       s"[package]\nname = \"rev$i\"\nversion = \"0.$i.0\"\n", i % 977)
    }
    val pages = many.toDF("url", "text", "off")
      .withColumn("warc_ts", F.timestamp_seconds(
        F.unix_timestamp(F.to_timestamp(F.lit(base))) + F.col("off")))
      .withColumn("html", F.col("text").cast("binary"))
      .withColumn("lang", F.lit("en"))
      .select("url", "warc_ts", "html", "text", "lang")
    // winner by the engine's rule: max ts, md5 tie-break among off == 976
    val atMax = many.filter(_._3 == 976)
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = atMax.maxBy(r => m(r._2))._2
    val expectedName = "rev" + expected.split("rev")(1).split("\"")(0)
    val grouped = KgEngine.extractCanonical(spark, pages).collect()
      .filter(_.pred == "Name").map(_.obj).toList
    val pre = KgEngine.extractCanonicalPreExtract(spark, pages).collect()
      .filter(_.pred == "Name").map(_.obj).toList
    assert(grouped == List(expectedName))
    assert(pre == grouped)
  }

  test("single-exchange sink: render runs inside the extraction group") {
    val pages = SynthPages.fromDocuments(docs.where("doc_id < 32"))
    val sink = KgEngine.extractAndRender(spark, pages, graft.pipeline.Sinks.toYaml)
    val plan = sink.queryExecution.executedPlan.toString
    // SynthPages' input generator repartitions round-robin (one Exchange text
    // occurrence per union branch); the ENGINE must contribute exactly one
    // key-based exchange — the groupByKey(subj) — and no second render shuffle
    val keyExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(keyExchanges == 1, s"expected exactly one hash Exchange, plan:\n$plan")
    // and the rendered YAML matches the two-pass (triples → render) output
    val viaTriples = KgEngine.extractCanonical(spark, pages)
      .collect().groupBy(_.subj).map { case (subj, ts) =>
        subj -> graft.pipeline.Sinks.toYaml(
          ts.sortBy(_.pred).map(t => graft.core.Datum(t.pred,
            graft.spark.Model.valueFromForms(t.obj, t.obj_json),
            if (t.certainty < 0) None else Some(t.certainty), Some(t.origin))).toList)
      }
    val direct = sink.collect().toMap
    assert(direct == viaTriples)
  }
}
