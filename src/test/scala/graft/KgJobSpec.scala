package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.spark.{KgJob, KgStreaming, SynthPages}

/** End-to-end job semantics: bucket-manifest resume, the lineage and
  * metrics counts the commit markers carry, and streamed page ingestion.
  */
class KgJobSpec extends AnyFunSuite with SparkSuite {

  private def freshDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d.toString
  }

  private val Tables = Seq("triples", "captures", "edges", "nodes")

  /** Page rows (url, text) in the crawl schema, captured at SynthPages.FixedTs. */
  private def pagesOf(rows: (String, String)*): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.{functions => F}
    import spark.implicits._
    rows.toDF("url", "text")
      .withColumn("warc_ts", F.to_timestamp(F.lit(SynthPages.FixedTs)))
      .withColumn("html", F.col("text").cast("binary"))
      .withColumn("lang", F.lit("en"))
      .select("url", "warc_ts", "html", "text", "lang")
  }

  /** n package.json projects, each with a name and a homepage (one edge). */
  private def projects(n: Int): org.apache.spark.sql.DataFrame = pagesOf((0 until n).map(i =>
    (s"https://replay.invalid/p$i/package.json",
      s"""{"name": "p$i", "homepage": "https://p$i.example.com/"}""")): _*)

  test("KgJob resumes from the bucket manifest without re-emitting") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").where("doc_id < 100")
    val pages = SynthPages.fromDocuments(docs)
    val out = freshDir("kgjob")

    // per-flavor canonical triple counts over doc_id % 8 (see SynthPages):
    // 12 full cycles of 77 + docs 96..99 (flavors 0-3)
    val expectedTriples = 12 * (11 + 11 + 11 + 10 + 10 + 9 + 6 + 10) + (11 + 11 + 11 + 10)

    val first = KgJob.run(spark, pages, out, buckets = 8)
    assert(first == 8)
    val triples1 = spark.read.parquet(s"$out/triples").count()
    assert(triples1 == expectedTriples)

    // simulate a restart after partial completion: drop two commit markers
    // and their outputs
    for (b <- Seq(3, 5)) {
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(out, "_manifest", s"bucket_$b"))
    }
    val second = KgJob.run(spark, pages, out, buckets = 8)
    assert(second == 2) // only the uncommitted buckets re-ran
    assert(KgJob.committedBuckets(out).size == 8)
    val triples2 = spark.read.parquet(s"$out/triples").count()
    assert(triples2 == expectedTriples) // overwrite per bucket → no duplicates
    // resume must not duplicate lineage either (per-bucket lineage protocol):
    // every input page accounted for exactly once
    val lineage = KgJob.lineage(spark, out)
      .agg(org.apache.spark.sql.functions.sum("input_rows")).first.getLong(0)
    assert(lineage == pages.count())
    // per-bucket metrics reconcile with the triples table
    val metrics = KgJob.metrics(spark, out)
      .agg(org.apache.spark.sql.functions.sum("n_triples")).first.getLong(0)
    assert(metrics == expectedTriples)
    // stats markers never leak into the triples table
    assert(spark.read.parquet(s"$out/triples")
      .where(s"pred = '${graft.spark.KgEngine.StatsPred}'").count() == 0)
  }

  test("lineage carries the per-subject error channel (dropped_bad, errors)") {
    import org.apache.spark.sql.{functions => F}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").where("doc_id < 40")
    val base = SynthPages.fromDocuments(docs)
    // give doc 7 a meson.build (provider error offline) and a known-bad
    // .git/config upstream remote (dropped pre-merge)
    val extra = pagesOf(
      ("https://replay.invalid/proj7/meson.build", "project('x', 'c')\n"),
      ("https://replay.invalid/proj7/.git/config",
       "[remote \"upstream\"]\n\turl = https://anongit.kde.org/proj7.git\n"))
    val out = freshDir("kgjob_errs")
    KgJob.run(spark, base.unionByName(extra), out, buckets = 4)
    val lin = KgJob.lineage(spark, out)
    assert(lin.columns.toSet ==
      Set("bucket", "input_rows", "emitted", "dropped_bad", "errors"))
    val row = lin.agg(F.sum("errors"), F.sum("dropped_bad")).first
    assert(row.getLong(0) == 1L, s"errors: $row")      // the meson failure
    assert(row.getLong(1) == 1L, s"dropped: $row")     // the anongit repo
    // clean buckets report zeroes, not nulls
    assert(lin.where("errors IS NULL OR dropped_bad IS NULL").count() == 0)
  }

  test("extrapolation limit overruns surface on the lineage error channel") {
    import org.apache.spark.sql.{functions => F}
    // a subject whose extrapolation chain (Homepage → Repository →
    // Repository-Browse) needs a confirming second sweep: converges under
    // the default limit, exceeds iterationLimit = 1 — the synthetic
    // non-convergent vector for ProviderError::ExtrapolationLimitExceeded
    // (extrapolate.rs:524-528)
    val pages = pagesOf(
      ("https://replay.invalid/cyclic/package.json",
       """{"name": "cyclic", "homepage": "https://github.com/o/cyclic"}"""))
    val clean = freshDir("kgjob_xlim_ok")
    KgJob.run(spark, pages, clean, buckets = 2)
    assert(KgJob.lineage(spark, clean)
      .agg(F.sum("errors")).first.getLong(0) == 0L)
    val capped = freshDir("kgjob_xlim")
    KgJob.run(spark, pages, capped, buckets = 2, iterationLimit = 1)
    assert(KgJob.lineage(spark, capped)
      .agg(F.sum("errors")).first.getLong(0) == 1L)
    // mutate-then-Err: iteration 1's derivations are kept in the triples
    assert(spark.read.parquet(s"$capped/triples")
      .where("pred = 'Repository'").count() == 1L)
  }

  test("maxBucketsPerRun bounds the loss window; looping completes the job") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").where("doc_id < 64")
    val pages = SynthPages.fromDocuments(docs)
    val out = freshDir("kgjob_capped")
    val counts = Iterator.continually(
      KgJob.run(spark, pages, out, buckets = 8, maxBucketsPerRun = 3))
      .takeWhile(_ > 0).toList
    assert(counts == List(3, 3, 2))
    assert(KgJob.committedBuckets(out).size == 8)
    val triples = spark.read.parquet(s"$out/triples").count()
    assert(triples == 8 * (11 + 11 + 11 + 10 + 10 + 9 + 6 + 10))
  }

  test("a resumed job writes the same lineage as a one-shot job") {
    import org.apache.spark.sql.{functions => F}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").where("doc_id < 64")
    // pages without a subject: a null url and a url with no project prefix
    val pages = SynthPages.fromDocuments(docs)
      .unionByName(pagesOf(("https://replay.invalid/", "a site root")))
      .unionByName(pagesOf(("x", "a page without a url")).withColumn("url", F.lit(null).cast("string")))
    val once = freshDir("kgjob_lineage_once")
    val resumed = freshDir("kgjob_lineage_resumed")
    assert(KgJob.run(spark, pages, once, buckets = 4) == 4)
    assert(KgJob.run(spark, pages, resumed, buckets = 4, maxBucketsPerRun = 2) == 2)
    assert(KgJob.run(spark, pages, resumed, buckets = 4, maxBucketsPerRun = 2) == 2)
    def lineage(dir: String) = KgJob.lineage(spark, dir).collect().map(_.toSeq).toSet
    assert(lineage(resumed) == lineage(once))
    assert(KgJob.lineage(spark, resumed).agg(F.sum("input_rows")).head.getLong(0) ==
      pages.count())
  }

  test("a crash between data writes and commit markers resumes losslessly") {
    import org.apache.hadoop.fs.Path
    val pages = SynthPages.fromDocuments(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet").where("doc_id < 64"))
      .unionByName(pagesOf(("https://replay.invalid/proj7/meson.build", "project('x', 'c')\n")))
    val once = freshDir("kgjob_crash_once")
    val crashed = freshDir("kgjob_crash")
    KgJob.run(spark, pages, once, buckets = 8)
    KgJob.run(spark, pages, crashed, buckets = 8)
    // the crash: every table of every bucket landed, but bucket 3's marker
    // was never written and bucket 5's stopped at its hidden temp name
    val fs = new Path(crashed).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = (b: Int) => new Path(KgJob.manifestDir(crashed), s"bucket_$b")
    assert(fs.delete(marker(3), false))
    assert(fs.rename(marker(5), KgJob.tempMarker(crashed, 5)))
    assert(KgJob.committedBuckets(crashed) == Seq(0, 1, 2, 4, 6, 7))
    for (read <- Seq(KgJob.lineage _, KgJob.metrics _))
      assert(read(spark, crashed).where("bucket IN (3, 5)").isEmpty)

    assert(KgJob.run(spark, pages, crashed, buckets = 8) == 2)
    assert(KgJob.committedBuckets(crashed) == (0 until 8))
    assert(!fs.exists(KgJob.tempMarker(crashed, 5)))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq.sortBy(_.mkString)
    for (table <- Tables)
      assert(rows(spark.read.parquet(s"$crashed/$table")) == rows(spark.read.parquet(s"$once/$table")),
        table)
    for (read <- Seq(KgJob.lineage _, KgJob.metrics _))
      assert(rows(read(spark, crashed)) == rows(read(spark, once)))
  }

  test("tables and readers equal their definitions, one-shot and resumed") {
    import org.apache.spark.sql.{DataFrame, functions => F}
    import org.apache.spark.sql.types.{DataType, StructField, StructType}
    import graft.spark.KgEngine
    import spark.implicits._
    val n = 8
    def bucket(subj: String): Int =
      spark.range(1).select(KgEngine.bucketOf(F.lit(subj), n)).head.getInt(0)
    val errSubj = "https://replay.invalid/proj7/"
    // a bucket holding only a subject whose extraction emits no triples (its
    // one guess, the Name "unknown<i>" from its path, is known-bad, and its
    // meson.build fails offline); the corpus's own pages of that bucket are
    // left out
    val taken = Set(bucket(""), bucket(errSubj))
    val empty = Iterator.from(0).map(i => s"https://replay.invalid/unknown$i/")
      .find(s => !taken(bucket(s))).get
    val b = bucket(empty)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pages = KgEngine.resumeFilter(SynthPages.fromDocuments(docs), Seq(b), n)
      .unionByName(pagesOf(
        // the error channel: an offline provider error and a known-bad drop,
        // here and in the subject without triples
        (errSubj + "meson.build", "project('x', 'c')\n"),
        (errSubj + ".git/config",
          "[remote \"upstream\"]\n\turl = https://anongit.kde.org/proj7.git\n"),
        (empty + "meson.build", "project('x', 'c')\n"),
        ("https://replay.invalid/", "a site root")))
      .unionByName(pagesOf(("x", "a page without a url"))
        .withColumn("url", F.lit(null).cast("string")))

    // the tables by their definitions, written out here
    val withStats = KgEngine.extractCanonicalWithStats(spark, pages).toDF()
      .withColumn("bucket", KgEngine.bucketOf(F.col("subj"), n))
    val isStats = F.col("pred") === KgEngine.StatsPred
    val triples = withStats.where(!isStats)
    val edges = triples
      .where(F.col("pred").isin(graft.core.Fields.urlTyped.toSeq: _*) &&
        F.col("obj").startsWith("http"))
      .select(F.col("subj").as("src"), F.col("pred"), F.col("obj").as("dst"),
        F.col("certainty"), F.col("bucket"))
    val nodes = edges.select(F.col("src").as("id"), F.lit("subject").as("kind"), F.col("bucket"))
      .unionByName(edges.select(F.col("dst").as("id"), F.lit("url").as("kind"), F.col("bucket")))
      .groupBy("bucket", "id").agg(F.min("kind").as("kind"))
    val stats = withStats.where(isStats).groupBy("bucket")
      .agg(F.sum(F.col("obj").cast("long")).as("errors"),
        F.sum(F.col("obj_json").cast("long")).as("dropped_bad"))
    val lineage = KgEngine.lineage(pages, n).join(stats, Seq("bucket"), "left")
      .select(F.col("bucket"), F.col("input_rows"), F.col("emitted"),
        F.coalesce(F.col("dropped_bad"), F.lit(0L)).as("dropped_bad"),
        F.coalesce(F.col("errors"), F.lit(0L)).as("errors"))
    val metrics = triples.groupBy("bucket")
      .agg(F.count(F.lit(1)).as("n_triples"), F.countDistinct("subj").as("n_subjects"),
        F.max("certainty").as("max_certainty"))
    // the duplicate-capture rule: the max (ts, md5) candidate capture per
    // (subj, relpath), through the Scala url algebra
    val captures = pages.where(F.col("text").isNotNull)
      .select(F.col("url"), F.unix_millis(F.col("warc_ts")), F.col("text"))
      .as[(String, Long, String)]
      .flatMap { case (url, ts, text) =>
        Option(url).flatMap(KgEngine.splitSubject).filter(sr => KgEngine.isCandidate(sr._2))
          .map { case (subj, relpath) => (subj, relpath, ts, text) }
      }
      .toDF("subj", "relpath", "ts", "text")
      .withColumn("md5", F.md5(F.col("text")))
      .groupBy("subj", "relpath")
      .agg(F.max_by(F.struct("ts", "md5", "text"), F.struct("ts", "md5")).as("w"))
      .select(F.col("subj"), F.col("relpath"), F.col("w.ts").as("ts"), F.col("w.md5").as("md5"),
        F.col("w.text").as("text"), KgEngine.bucketOf(F.col("subj"), n).as("bucket"))
    val expected = Map("triples" -> triples, "captures" -> captures, "edges" -> edges,
      "nodes" -> nodes, "lineage" -> lineage, "metrics" -> metrics)

    // the inputs cover what they should
    assert(triples.where(F.col("subj") === empty).isEmpty)
    assert(triples.where(F.col("bucket") === b).isEmpty)
    assert(captures.where(F.col("subj") === empty).count() == 1)
    assert(lineage.where(F.col("bucket") === b && F.col("emitted") === 1L).count() == 1)
    assert(lineage.agg(F.sum("errors"), F.sum("dropped_bad")).head.toSeq == Seq(2L, 2L))
    assert(lineage.agg(F.sum("input_rows")).head.getLong(0) == pages.count())

    def rows(df: DataFrame, cols: Seq[String]): Seq[String] =
      df.select(cols.map(F.col): _*).collect().map(_.toSeq.mkString("\u0001")).toSeq.sorted
    // the readers' schemas are the ones the lineage and metrics parquet
    // tables had: the counts, then the bucket, every field nullable
    def schema(fields: (String, String)*) = StructType(fields.map { case (n, t) =>
      StructField(n, DataType.fromDDL(t)) })
    val readers = Map(
      "lineage" -> (KgJob.lineage _, schema("input_rows" -> "bigint", "emitted" -> "bigint",
        "dropped_bad" -> "bigint", "errors" -> "bigint", "bucket" -> "int")),
      "metrics" -> (KgJob.metrics _, schema("n_triples" -> "bigint", "n_subjects" -> "bigint",
        "max_certainty" -> "int", "bucket" -> "int")))
    def check(out: String): Unit = for ((table, want) <- expected) {
      val got = readers.get(table).fold(spark.read.parquet(s"$out/$table")) { case (read, s) =>
        val df = read(spark, out)
        assert(df.schema == s, table)
        df
      }
      assert(got.columns.toSet == want.columns.toSet, table)
      assert(rows(got, got.columns.toSeq) == rows(want, got.columns.toSeq), table)
    }
    val once = freshDir("kgjob_tables_once")
    assert(KgJob.run(spark, pages, once, buckets = n) == n)
    check(once)
    val resumed = freshDir("kgjob_tables_resumed")
    assert(Iterator.continually(KgJob.run(spark, pages, resumed, buckets = n, maxBucketsPerRun = 3))
      .takeWhile(_ > 0).toList == List(3, 3, 2))
    check(resumed)
  }

  test("a re-run bucket whose input became empty drops its stale partitions") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").where("doc_id < 64")
    val pages = SynthPages.fromDocuments(docs)
    val out = freshDir("kgjob_stale")
    KgJob.run(spark, pages, out, buckets = 8)
    // pick a bucket that actually has triples, uncommit it, and re-run with
    // that bucket's subjects REMOVED from the input (e.g. the source purged
    // them between attempts)
    val b = spark.read.parquet(s"$out/triples")
      .select("bucket").distinct().collect().map(_.getInt(0)).min
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(out, "_manifest", s"bucket_$b"))
    val purged = graft.spark.KgEngine.resumeFilter(pages, Seq(b), 8)
    KgJob.run(spark, purged, out, buckets = 8)
    assert(KgJob.committedBuckets(out).size == 8)
    // dynamic overwrite alone would have kept the crashed attempt's files;
    // the explicit cleanup must have removed every table's stale partition
    for (table <- Tables)
      assert(!new java.io.File(s"$out/$table/bucket=$b").exists(),
        s"stale $table partition for bucket=$b survived")
    // and the remaining data is intact (no other bucket was touched)
    val remaining = spark.read.parquet(s"$out/triples")
      .select("bucket").distinct().collect().map(_.getInt(0)).toSet
    assert(!remaining.contains(b) && remaining.nonEmpty)
  }

  test("every table writes exactly one file per bucket") {
    val out = freshDir("kgjob_files")
    KgJob.run(spark, projects(200), out, buckets = 8)
    for (table <- Tables) {
      val parts = new java.io.File(s"$out/$table").listFiles().filter(_.getName.startsWith("bucket="))
      assert(parts.nonEmpty, s"$table has no bucket partitions")
      for (p <- parts) {
        val files = p.listFiles().map(_.getName)
          .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
        assert(files.length == 1, s"$table/${p.getName} holds ${files.length} data files")
      }
    }
    assert(new java.io.File(s"$out/triples").listFiles().count(_.getName.startsWith("bucket=")) == 8)
  }

  test("a re-run bucket with triples but no edges drops its stale edges and nodes") {
    import org.apache.spark.sql.{functions => F}
    import graft.spark.KgEngine
    import spark.implicits._
    val pages = projects(64)
    // a subject with a name and a version but no URL-typed field: triples,
    // no edges
    val plain = pagesOf(("https://replay.invalid/plain/package.json",
      """{"name": "plain", "version": "1.0.0"}"""))
    val b = plain.select(KgEngine.bucketOf(KgEngine.subjCol(F.col("url")), 8)).first.getInt(0)
    val out = freshDir("kgjob_stale_edges")
    // the "crashed" attempt: bucket b holds edges and nodes of the
    // projects that hash there
    KgJob.run(spark, pages.unionByName(plain), out, buckets = 8)
    for (table <- Seq("edges", "nodes"))
      assert(new java.io.File(s"$out/$table/bucket=$b").exists(), s"no $table/bucket=$b to plant")
    java.nio.file.Files.delete(java.nio.file.Paths.get(out, "_manifest", s"bucket_$b"))

    // the rerun's bucket b holds only the plain subject
    KgJob.run(spark, KgEngine.resumeFilter(pages, Seq(b), 8).unionByName(plain), out, buckets = 8)
    assert(KgJob.committedBuckets(out).size == 8)
    for (table <- Seq("edges", "nodes"))
      assert(!new java.io.File(s"$out/$table/bucket=$b").exists(),
        s"stale $table partition for bucket=$b survived")
    val triples = spark.read.parquet(s"$out/triples").where(F.col("bucket") === b)
    assert(triples.select("subj").distinct().as[String].collect().toSeq ==
      Seq("https://replay.invalid/plain/"))
    val n = triples.count()
    assert(n > 0)
    val met = KgJob.metrics(spark, out).where(F.col("bucket") === b).collect()
    assert(met.length == 1)
    assert(met.head.getAs[Long]("n_triples") == n && met.head.getAs[Long]("n_subjects") == 1L)
  }

  test("a resume with a different bucket count is rejected") {
    val pages = projects(16)
    for ((first, second) <- Seq(8 -> 4, 4 -> 8)) {
      val out = freshDir(s"kgjob_buckets_$first")
      KgJob.run(spark, pages, out, buckets = first)
      val e = intercept[IllegalArgumentException](KgJob.run(spark, pages, out, buckets = second))
      assert(e.getMessage.contains(s"written with $first buckets") &&
        e.getMessage.contains(s"buckets = $second"), e.getMessage)
      assert(KgJob.committedBuckets(out) == (0 until first))
    }
  }

  test("streaming variant produces the same triples as batch") {
    import org.apache.spark.sql.{functions => F}
    import graft.spark.{BucketedStore, Incremental, KgEngine}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").where("doc_id < 48")
    val pages = SynthPages.fromDocuments(docs)
    val root = freshDir("kgstream")
    // an empty store: the whole crawl arrives through the stream
    Incremental.initStore(spark, pages.limit(0), "kgs_caps", "kgs_tri", root, buckets = 4)
    Incremental.initLogs(spark, s"$root/clog", s"$root/tlog")
    // hash by url, not by subject: a subject's pages land in different
    // files, so its captures are spread over several microbatches
    val in = s"$root/in"
    pages.repartition(4, F.col("url")).write.mode("overwrite").parquet(in)
    val nFiles = new java.io.File(in).listFiles().count(_.getName.endsWith(".parquet"))

    KgStreaming.pageDeltaStream(spark, in, "kgs_caps", s"$root/clog", s"$root/tlog",
      s"$root/ckpt", spark.read.parquet(in).schema, maxFilesPerTrigger = 1)
      .awaitTermination(120000)
    val batches = Incremental.readLog(spark, s"$root/clog")
      .where(F.col("batch") > 0).select("batch").distinct().count()
    assert(batches == nFiles, "each page file must be its own microbatch")

    def triples(df: org.apache.spark.sql.DataFrame) =
      df.select("subj", "pred", "obj").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val streamed = triples(Incremental.currentTriples(
      BucketedStore.read(spark, "kgs_tri"), Incremental.readLog(spark, s"$root/tlog")))
    val batch = triples(KgEngine.extractCanonical(spark, pages).toDF())
    assert(streamed == batch)
    assert(streamed.size == 6 * (11 + 11 + 11 + 10 + 10 + 9 + 6 + 10))
  }
}
