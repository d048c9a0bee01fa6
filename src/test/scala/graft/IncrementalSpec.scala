package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import graft.spark.{BucketedStore, Incremental, KgEngine, KgJob, SynthPages}

/** Incremental KG maintenance: append a delta crawl to the merge-on-read
  * logs over the subj-bucketed capture/triple store, re-extracting ONLY
  * subjects whose winning captures changed — the base ⊕ log view provably
  * equals the full rebuild, and the base tables are never rewritten (a
  * batch shuffles only its own subjects' stored captures).
  */
class IncrementalSpec extends AnyFunSuite with SparkSuite {

  // stale stores/logs from an earlier run would leak into this one
  locally {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File("/tmp/graft_inc_spec"))
  }

  /** Plan-shape scope: AQE off, broadcast off (forces the real SMJ paths on
    * this tiny corpus), subset co-partitioning on (the production setting —
    * Verify/Bench sessions set it; the shared test session does not).
    */
  private def withStablePlans[A](body: => A): A = withConf(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.requireAllClusterKeysForCoPartition" -> "false")(body)

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet").where("doc_id < 60")
  private lazy val live = SynthPages.fromDocuments(docs)

  private def docMod(of: Int): org.apache.spark.sql.Column =
    F.pmod(F.regexp_extract(F.col("url"), "proj(\\d+)/", 1).cast("long"), F.lit(of))

  // the store tables carry subj, not url
  private def subjMod(of: Int): org.apache.spark.sql.Column =
    F.pmod(F.regexp_extract(F.col("subj"), "proj(\\d+)/", 1).cast("long"), F.lit(of))

  /** A corrupted recapture `days` older than the live one. */
  private def corrupt(pages: DataFrame, days: Int): DataFrame = pages
    .withColumn("warc_ts", F.col("warc_ts") - F.expr(s"INTERVAL $days DAYS"))
    .withColumn("text", F.concat(F.col("text"), F.lit("\nSTALE RECRAWL GARBAGE")))

  // base crawl: %10==0 subjects absent entirely; %10==5 present but stale-corrupted
  private lazy val basePages = live.where(docMod(10) =!= 0 && docMod(10) =!= 5)
    .unionByName(corrupt(live.where(docMod(10) === 5), days = 7))
  // delta recrawl: the %10∈{0,5} live pages, plus an even STALER corrupted
  // recapture of %10==1 (a no-op loser) and a ts-refresh of %10==2 with
  // IDENTICAL content (winner ts advances, content does not change)
  private lazy val deltaPages = live.where(docMod(10) === 0 || docMod(10) === 5)
    .unionByName(corrupt(live.where(docMod(10) === 1), days = 14))
    .unionByName(live.where(docMod(10) === 2)
      .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAYS")))

  private val key = Seq("subj", "pred", "obj", "obj_json", "certainty", "origin")
  private def canonSet(df: DataFrame): DataFrame = df.select(key.map(F.col): _*)

  private def assertSame(a: DataFrame, b: DataFrame, hint: String): Unit = {
    assert(canonSet(a).except(canonSet(b)).isEmpty &&
           canonSet(b).except(canonSet(a)).isEmpty, hint)
    assert(a.count() == b.count(), s"$hint (row count)")
  }

  /** The duplicate-capture rule stated independently of the engine: the
    * max (ts, md5) capture per (subj, relpath), as (subj, relpath, ts, md5).
    */
  private def maxCaptures(pages: DataFrame): DataFrame = {
    import spark.implicits._
    pages.where(F.col("text").isNotNull)
      .select(F.col("url"), F.unix_millis(F.col("warc_ts")), F.col("text"))
      .as[(String, Long, String)]
      .flatMap { case (url, ts, text) =>
        KgEngine.splitSubject(url).filter(sr => KgEngine.isCandidate(sr._2))
          .map { case (subj, relpath) => (subj, relpath, ts, text) }
      }
      .toDF("subj", "relpath", "ts", "text")
      .withColumn("md5", F.md5(F.col("text")))
      .groupBy("subj", "relpath")
      .agg(F.max_by(F.struct("ts", "md5"), F.struct("ts", "md5")).as("w"))
      .select(F.col("subj"), F.col("relpath"), F.col("w.ts").as("ts"), F.col("w.md5").as("md5"))
  }

  test("initStore == max (ts, md5) captures + extractCanonical under recrawl floods") {
    // three captures per page: live, week-older corrupted, exact duplicate —
    // the kg_canonical_dup corpus shape. The union delivers each stale
    // capture between two live ones; sorting by warc_ts delivers it first
    // or last, so a fold that keeps the first or the last capture instead
    // of the max (ts, md5) one fails one of the orderings
    val flood = live
      .unionByName(corrupt(live, days = 7))
      .unionByName(live)
    Seq("union" -> flood, "asc" -> flood.orderBy("warc_ts"),
        "desc" -> flood.orderBy(F.desc("warc_ts"))).foreach { case (order, pages) =>
      Incremental.initStore(spark, pages, s"fl_caps_$order", s"fl_tri_$order",
        s"/tmp/graft_inc_spec/flood_$order", buckets = 8)
      val caps = BucketedStore.read(spark, s"fl_caps_$order")
      assert(caps.columns.toSeq == Seq("subj", "relpath", "ts", "md5", "text"), order)
      val stored = caps.select("subj", "relpath", "ts", "md5")
      val winners = maxCaptures(pages)
      assert(stored.count() == winners.count() && stored.except(winners).isEmpty,
        s"$order: the store must hold exactly the max (ts, md5) capture per key")
      val tri = BucketedStore.read(spark, s"fl_tri_$order")
      assert(tri.where(F.col("pred") === KgEngine.StatsPred).isEmpty,
        s"$order: the base triples hold no stats row (tombstone)")
      assertSame(tri, KgEngine.extractCanonical(spark, pages).toDF(),
        s"$order: the store's triples must be the one-shot extraction")
      assertSame(tri, KgEngine.extractCanonical(spark, live).toDF(),
        s"$order: the newest capture must win per (subj, relpath)")
    }
  }

  test("KgJob.run's output is the base store: a recrawl batch over it == the full rebuild") {
    val root = "/tmp/graft_inc_spec/job"
    KgJob.run(spark, basePages, s"$root/store", buckets = 8)
    Incremental.register(spark, "job_caps", "job_tri", s"$root/store")
    Incremental.initLogs(spark, s"$root/clog", s"$root/tlog")
    Incremental.appendDelta(spark, deltaPages, "job_caps", s"$root/clog", s"$root/tlog", batch = 1)
    assertSame(
      Incremental.currentTriples(BucketedStore.read(spark, "job_tri"),
        Incremental.readLog(spark, s"$root/tlog")),
      KgEngine.extractCanonical(spark, basePages.unionByName(deltaPages)).toDF(),
      "the view over KgJob's output must equal the full rebuild over base ∪ batch")
  }

  test("initStore at a used path holds the second crawl only, whatever its bucket count") {
    // a bare KgJob.run would resume the first store's committed buckets (or
    // reject the new count); initStore clears the path first
    val root = "/tmp/graft_inc_spec/reinit"
    val second = live.where(docMod(3) === 0)
    Incremental.initStore(spark, basePages, "ri_caps", "ri_tri", root, buckets = 8)
    Incremental.initStore(spark, second, "ri_caps", "ri_tri", root, buckets = 4)
    assertSame(BucketedStore.read(spark, "ri_tri"), KgEngine.extractCanonical(spark, second).toDF(),
      "the store's triples must be the second crawl's")
    val caps = BucketedStore.read(spark, "ri_caps").select("subj", "relpath", "ts", "md5")
    val winners = maxCaptures(second)
    assert(caps.count() == winners.count() && caps.except(winners).isEmpty,
      "the store's captures must be the second crawl's")
    assert(KgJob.committedBuckets(root) == (0 until 4))
  }

  test("initStore over no pages registers empty tables with the store's columns") {
    import org.apache.spark.sql.Encoders
    import graft.spark.Model.{CanonTriple, Capture}
    Incremental.initStore(spark, live.limit(0), "em_caps", "em_tri",
      "/tmp/graft_inc_spec/empty", buckets = 4)
    def fields(df: DataFrame) = df.schema.fields.toSeq.map(f => f.name -> f.dataType)
    for ((table, schema) <- Seq("em_caps" -> Encoders.product[Capture].schema,
        "em_tri" -> Encoders.product[CanonTriple].schema)) {
      val df = BucketedStore.read(spark, table)
      assert(df.isEmpty, table)
      assert(fields(df) == schema.fields.toSeq.map(f => f.name -> f.dataType), table)
    }
  }

  test("only genuinely changed subjects re-extract; ts refreshes and stale recaptures do not") {
    val root = "/tmp/graft_inc_spec/s2"
    Incremental.initStore(spark, basePages, "inc_caps2", "inc_tri2", root, buckets = 8)
    Incremental.initLogs(spark, s"$root/clog", s"$root/tlog")
    Incremental.appendDelta(spark, deltaPages, "inc_caps2",
      s"$root/clog", s"$root/tlog", batch = 1)
    def mods(df: DataFrame): Set[Long] =
      df.select(subjMod(10)).distinct().collect().map(_.getLong(0)).toSet
    val logged = Incremental.readLog(spark, s"$root/clog").where(F.col("batch") === 1)
    val changed = mods(logged.where(F.col("changed")))
    assert(changed == Set(0L, 5L),
      s"changed subjects must be exactly the new (%10==0) and content-changed " +
      s"(%10==5) ones — stale recaptures (1) and same-content ts refreshes (2) " +
      s"must not re-extract; got $changed")
    assert(logged.where(subjMod(10) === 1).isEmpty, "a stale recapture is not logged")
    val reextracted = mods(Incremental.readLog(spark, s"$root/tlog")
      .where(F.col("batch") === 1))
    assert(reextracted == Set(0L, 5L), s"re-extracted subjects: $reextracted")
    // the ts refresh IS logged (a later capture between the two timestamps
    // must keep losing)
    val m2 = logged.where(subjMod(10) === 2)
      .agg(F.count(F.lit(1)), F.min("ts"), F.max("ts"), F.max(F.col("changed").cast("int")))
      .collect()(0)
    val base2 = BucketedStore.read(spark, "inc_caps2").where(subjMod(10) === 2)
      .agg(F.count(F.lit(1)), F.max("ts")).collect()(0)
    assert(m2.getLong(0) == base2.getLong(0) &&
      m2.getLong(1) == base2.getLong(1) + 86400L * 1000 &&
      m2.getLong(2) == base2.getLong(1) + 86400L * 1000,
      "a same-content newer capture must log every key's winner at ts + 1 day")
    assert(m2.getInt(3) == 0, "…without marking the subject changed")
  }

  test("a no-op delta changes nothing and re-extracts nothing") {
    val root = "/tmp/graft_inc_spec/s3"
    Incremental.initStore(spark, live, "inc_caps3", "inc_tri3", root, buckets = 8)
    Incremental.initLogs(spark, s"$root/clog", s"$root/tlog")
    Incremental.appendDelta(spark, corrupt(live, days = 30), "inc_caps3",
      s"$root/clog", s"$root/tlog", batch = 1)
    for (log <- Seq("clog", "tlog")) {
      assert(new java.io.File(s"$root/$log/batch=1").isDirectory,
        s"the no-op batch still writes its $log directory")
      assert(Incremental.readLog(spark, s"$root/$log").where(F.col("batch") === 1).isEmpty,
        s"all-stale delta → an empty $log batch (no rows, no tombstones)")
    }
    assertSame(
      Incremental.currentTriples(BucketedStore.read(spark, "inc_tri3"),
        Incremental.readLog(spark, s"$root/tlog")),
      BucketedStore.read(spark, "inc_tri3"),
      "all-stale delta → the view is the base triples")
  }

  test("log mode: equal-ts duplicate captures in one batch log the larger-md5 row") {
    val root = "/tmp/graft_inc_spec/dup"
    Incremental.initStore(spark, basePages, "dup_caps", "dup_tri", root, buckets = 8)
    Incremental.initLogs(spark, s"$root/clog", s"$root/tlog")
    // every page of half the subjects recrawled twice at the SAME newer ts
    // with different text: only the (ts, md5) tie-break picks the winner
    def variant(tag: String): DataFrame = live.where(docMod(2) === 0)
      .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAYS"))
      .withColumn("text", F.concat(F.col("text"), F.lit(s"\nrecrawl $tag")))
    val batch = variant("A").unionByName(variant("B"))
    Incremental.appendDelta(spark, batch, "dup_caps",
      s"$root/clog", s"$root/tlog", batch = 1)
    val cols = Seq("subj", "relpath", "ts", "md5").map(F.col)
    val logged = Incremental.readLog(spark, s"$root/clog")
      .where(F.col("batch") === 1).select(cols: _*)
    val winners = maxCaptures(batch)
    assert(logged.count() == winners.count() && logged.except(winners).isEmpty,
      "the capture log must hold each key's max (ts, md5) row")
    assertSame(
      Incremental.currentTriples(BucketedStore.read(spark, "dup_tri"),
        Incremental.readLog(spark, s"$root/tlog")),
      KgEngine.extractCanonical(spark, basePages.unionByName(batch)).toDF(),
      "the view must equal the full rebuild over base ∪ batch")
  }

  test("log mode: two appended batches ⊕ base == full rebuild (incl. a re-changed subject)") {
    val root = "/tmp/graft_inc_spec/log1"
    Incremental.initStore(spark, basePages, "lg_caps", "lg_tri", root, buckets = 8)
    Incremental.initLogs(spark, s"$root/clog", s"$root/tlog")
    // batch 1: today's delta (new %10==0 subjects, changed %10==5, stale
    // %10==1 recaptures) PLUS a NEWER corrupted version of %10==7 (negative
    // days = a capture 2 days ahead of base) — it must replace and
    // re-extract to garbage triples in this batch
    val batch1 = deltaPages.unionByName(
      corrupt(live.where(docMod(10) === 7), days = -2))
    Incremental.appendDelta(spark, batch1, "lg_caps",
      s"$root/clog", s"$root/tlog", batch = 1)
    // batch 2: %10==7 re-changes to the live content (3 days ahead, beating
    // batch 1's +2d) — the latest batch's re-extraction must win the view
    val batch2 = live.where(docMod(10) === 7)
      .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 3 DAYS"))
    Incremental.appendDelta(spark, batch2, "lg_caps",
      s"$root/clog", s"$root/tlog", batch = 2)

    val view = Incremental.currentTriples(
      BucketedStore.read(spark, "lg_tri"),
      Incremental.readLog(spark, s"$root/tlog"))
    assertSame(view,
      KgEngine.extractCanonical(spark,
        basePages.unionByName(batch1).unionByName(batch2)).toDF(),
      "base ⊕ log view must equal the full rebuild over all batches")
    // %10==7 really did change TWICE: both batches logged triples for it
    val tlog = Incremental.readLog(spark, s"$root/tlog")
    val m7batches = tlog.where(subjMod(10) === 7).select("batch").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(m7batches == Set(1, 2),
      s"the re-changed subject must re-extract in BOTH batches, got $m7batches")
    // and the capture view equals the winners of everything ever crawled
    val capView = Incremental.currentCaptures(
      BucketedStore.read(spark, "lg_caps"),
      Incremental.readLog(spark, s"$root/clog"))
    val allWinners = maxCaptures(basePages.unionByName(batch1).unionByName(batch2))
    assert(capView.select("subj", "relpath", "ts", "md5").except(allWinners).isEmpty &&
      capView.count() == allWinners.count(),
      "capture view must equal the one-shot winners")

    // compaction folds the logs into fresh bucketed tables; the view of the
    // compacted state (with its fresh empty logs) is unchanged
    Incremental.compact(spark, "lg_caps", "lg_tri",
      s"$root/clog", s"$root/tlog", "lg_caps_c", "lg_tri_c", s"$root/c")
    assertSame(
      Incremental.currentTriples(
        BucketedStore.read(spark, "lg_tri_c"),
        Incremental.readLog(spark, s"$root/c/tlog")),
      view, "compaction must not change the view")
    // and a further batch appends against the compacted base
    Incremental.appendDelta(spark,
      corrupt(live.where(docMod(10) === 3), days = -3), // NEWER corrupt content
      "lg_caps_c", s"$root/c/clog", s"$root/c/tlog", batch = 1)
    val after = Incremental.currentTriples(
      BucketedStore.read(spark, "lg_tri_c"),
      Incremental.readLog(spark, s"$root/c/tlog"))
    assertSame(after,
      KgEngine.extractCanonical(spark,
        basePages.unionByName(batch1).unionByName(batch2)
          .unionByName(corrupt(live.where(docMod(10) === 3), days = -3))).toDF(),
      "post-compaction appends must keep matching the full rebuild")
  }

  test("log mode: re-running a failed batch with the same id is lossless") {
    val root = "/tmp/graft_inc_spec/retry"
    Incremental.initStore(spark, basePages, "rt_caps", "rt_tri", root, buckets = 8)
    Incremental.initLogs(spark, s"$root/clog", s"$root/tlog")
    Incremental.appendDelta(spark, deltaPages, "rt_caps",
      s"$root/clog", s"$root/tlog", batch = 1)
    val expected = Incremental.currentTriples(
      BucketedStore.read(spark, "rt_tri"),
      Incremental.readLog(spark, s"$root/tlog")).collect().toSet

    // crash scenario A: batch 1 fully written, the driver dies before
    // acknowledging — the retry must overwrite batch=1 with IDENTICAL rows
    // (a naive retry would read its own rows as already-current and write
    // an empty batch, losing the delta)
    Incremental.appendDelta(spark, deltaPages, "rt_caps",
      s"$root/clog", s"$root/tlog", batch = 1)
    assert(Incremental.currentTriples(
      BucketedStore.read(spark, "rt_tri"),
      Incremental.readLog(spark, s"$root/tlog")).collect().toSet == expected,
      "full re-run of the same batch must be a no-op")

    // crash scenario B: the capture log committed but the triple log did not
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File(s"$root/tlog/batch=1"))
    Incremental.appendDelta(spark, deltaPages, "rt_caps",
      s"$root/clog", s"$root/tlog", batch = 1)
    assert(Incremental.currentTriples(
      BucketedStore.read(spark, "rt_tri"),
      Incremental.readLog(spark, s"$root/tlog")).collect().toSet == expected,
      "retry after a partial (captures-only) batch must restore the view")
  }

  test("streamed delta ingestion == batch appendDelta == full rebuild") {
    val root = "/tmp/graft_inc_spec/stream"
    Incremental.initStore(spark, basePages, "st_caps", "st_tri", root, buckets = 8)
    Incremental.initLogs(spark, s"$root/clog", s"$root/tlog")
    // one flat stream dir of page files; each written file is one
    // microbatch (maxFilesPerTrigger = 1)
    val in = s"$root/stream_in"
    new java.io.File(in).mkdirs()
    def deliver(name: String, pages: DataFrame): Unit = {
      pages.coalesce(1).write.mode("overwrite").parquet(s"$root/in/$name")
      for (f <- new java.io.File(s"$root/in/$name").listFiles()
           if f.getName.endsWith(".parquet"))
        java.nio.file.Files.copy(f.toPath,
          new java.io.File(in, s"${name}_${f.getName}").toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    def stream(): Unit = graft.spark.KgStreaming.pageDeltaStream(spark, in,
      "st_caps", s"$root/clog", s"$root/tlog", s"$root/ckpt",
      spark.read.parquet(s"$root/in/d0").schema, maxFilesPerTrigger = 1)
      .awaitTermination()
    def batches(): Set[Int] = Incremental.readLog(spark, s"$root/clog")
      .select("batch").distinct().collect().map(_.getInt(0)).toSet
    def view = Incremental.currentTriples(
      BucketedStore.read(spark, "st_tri"), Incremental.readLog(spark, s"$root/tlog"))

    // the delta crawl arrives as TWO files → two microbatches
    deliver("d0", deltaPages.where(docMod(2) === 0))
    deliver("d1", deltaPages.where(docMod(2) === 1))
    stream()
    // batch 0 is the rowless init marker; both microbatches must have
    // appended their own rows (the delta split puts live captures in each)
    assert(batches() == Set(1, 2),
      s"each microbatch must append under its own id, got ${batches()}")
    assertSame(view,
      KgEngine.extractCanonical(spark,
        basePages.unionByName(deltaPages)).toDF(),
      "streamed ingestion must equal the full rebuild")

    // a later recrawl re-delivers proj0's README with new text; the stream
    // resumes from its checkpoint and processes only the new file
    import spark.implicits._
    deliver("d2", Seq(("https://replay.invalid/proj0/README", "recrawled body"))
      .toDF("url", "text")
      .select(F.col("url"), F.to_timestamp(F.lit("2026-08-01 00:00:00")).as("warc_ts"),
        F.col("text").cast("binary").as("html"), F.col("text"), F.lit("en").as("lang")))
    stream()
    assert(batches() == Set(1, 2, 3),
      s"a resumed stream must process only the new file, got ${batches()}")
    val proj0 = view.where(F.col("subj") === "https://replay.invalid/proj0/")
      .select("pred", "obj", "certainty").as[(String, String, Int)]
      .collect().map { case (p, o, c) => p -> (o, c) }.toMap
    assert(proj0("Description")._1 == "recrawled body\n",
      "the recrawled README re-extracts its subject")
    assert(proj0("Name") == ("proj0", 3), "manifest-derived facts keep their certainty")
  }

  test("log mode: a tombstoned subject's base rows do not resurrect") {
    import spark.implicits._
    val baseTri = Seq(
      ("https://replay.invalid/projA/", "Name", "projA", "", 3, "m"),
      ("https://replay.invalid/projB/", "Name", "projB", "", 3, "m"))
      .toDF("subj", "pred", "obj", "obj_json", "certainty", "origin")
    // projA re-extracted to NOTHING in batch 1 → only its stats row, the
    // tombstone, is logged
    val tlog = Seq(
      ("https://replay.invalid/projA/", KgEngine.StatsPred, "0", "0", -1, "0", 1))
      .toDF("subj", "pred", "obj", "obj_json", "certainty", "origin", "batch")
    val view = Incremental.currentTriples(baseTri, tlog)
    assert(view.collect().map(_.getString(0)).toSet ==
      Set("https://replay.invalid/projB/"),
      "projA must be shadowed by its tombstone, projB untouched")
    assert(view.where(F.col("pred") === KgEngine.StatsPred).isEmpty,
      "tombstones never surface in the view")
  }

  private def baseScans(p: SparkPlan, path: String): Seq[FileSourceScanExec] = p.collect {
    case s: FileSourceScanExec
      if s.relation.location.rootPaths.exists(_.toString.contains(path)) => s
  }

  /** No exchange above the base scan. */
  private def assertBaseNotShuffled(df: DataFrame, path: String, what: String): Unit = {
    val plan = df.queryExecution.executedPlan
    val underShuffle = plan.collect { case e: ShuffleExchangeExec => e }
      .flatMap(baseScans(_, path))
    assert(underShuffle.isEmpty, s"$what must not shuffle the base side:\n$plan")
  }

  test("log mode: base tables are scanned, never shuffled") {
    val root = "/tmp/graft_inc_spec/log2"
    Incremental.initStore(spark, basePages, "lg2_caps", "lg2_tri", root, buckets = 8)
    Incremental.initLogs(spark, s"$root/clog", s"$root/tlog")
    Incremental.appendDelta(spark, deltaPages, "lg2_caps",
      s"$root/clog", s"$root/tlog", batch = 1)

    // the batch pass scans the base captures once and shuffles only the
    // batch's subjects' rows of it: every exchange above the scan sits above
    // a broadcast left-semi join on subj (the hint holds with broadcast off)
    withStablePlans {
      val plan = Incremental.batchPass(spark, deltaPages, Seq(
        BucketedStore.read(spark, "lg2_caps"),
        Incremental.readLog(spark, s"$root/clog").where(F.col("batch") < 2)))
        .queryExecution.executedPlan
      assert(baseScans(plan, "log2/captures").size == 1,
        s"the batch pass must scan the base captures once:\n$plan")
      def semiJoinedScans(p: SparkPlan) = p.collect {
        case j: BroadcastHashJoinExec if j.joinType == LeftSemi &&
          j.leftKeys.collect { case a: AttributeReference => a.name } == Seq("subj") =>
          baseScans(j.left, "log2/captures")
      }.flatten
      val shuffled = plan.collect { case e: ShuffleExchangeExec => e }
        .filter(baseScans(_, "log2/captures").nonEmpty)
      assert(shuffled.nonEmpty, s"the batch pass groups by subject:\n$plan")
      shuffled.foreach { e =>
        assert(semiJoinedScans(e).size == baseScans(e, "log2/captures").size,
          s"the base captures must reach every exchange through the subject " +
          s"semi-join:\n$e")
      }
    }
    // the read views anti-join the SMALL log key sets — those broadcast
    // (default threshold), leaving the base scan exchange-free
    withConf("spark.sql.adaptive.enabled" -> "false") {
      assertBaseNotShuffled(
        Incremental.currentTriples(BucketedStore.read(spark, "lg2_tri"),
          Incremental.readLog(spark, s"$root/tlog")),
        "log2/triples", "currentTriples")
      assertBaseNotShuffled(
        Incremental.currentCaptures(BucketedStore.read(spark, "lg2_caps"),
          Incremental.readLog(spark, s"$root/clog")),
        "log2/captures", "currentCaptures")
    }
  }
}
