package graft

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.expressions.Window
import graft.spark.{BucketedStore, KgEngine, KgJob, SparkRuntime, SynthPages, TrainingOps}

/** Driver contract — one `queries` entry per implemented operator
  * (SURVEY.md §2 + the training-data ops). EVERY query has DuckDB oracle
  * SQL. Column names are aligned between the Spark plan and the oracle;
  * sums of 2-decimal DOUBLE columns are emitted as BIGINT centi-units
  * (order-independent AND hash-encoding-stable in the driver compare).
  *
  * A query result is a multiset: the driver hashes sorted values,
  * `tools/check_oracles.py` sorts both sides and perfbench digests rows
  * order-independently. A result sort is then a range exchange, its
  * sampling job and a sort stage of dead work: the `fullEnrich` and ANN
  * bodies end without one, and sort only where a `limit` or a rank needs
  * it (the ANN rank is a window inside the operator).
  */
object SparkEntry {

  /** Parquet schemas memoized per path: a bare-path `read.parquet` infers
    * the schema by reading a footer — a one-task Spark job per table
    * REFERENCE (profiled: q4 alone ran five of them per execution). A
    * catalog table carries its schema as metadata; this memo is that
    * metadata for the driver's bare-path tables. Data is always re-read
    * from parquet — only the immutable schema (not results) is cached,
    * one entry per path, tagged with the modification time it was read at.
    */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, org.apache.spark.sql.types.StructType)]()

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    // a regenerated table in a long-lived application re-infers its schema
    // instead of being read with a stale one. The mtime comes from the
    // Hadoop FileSystem, which resolves every URI scheme (java.io.File
    // reads 0 for a non-local one).
    val hp = new org.apache.hadoop.fs.Path(path)
    val mtime = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getFileStatus(hp).getModificationTime
    val schema = schemaCache.get(path) match {
      case (`mtime`, cached) => cached
      case _ =>
        // inferred outside the map: the footer read is a Spark job, too
        // long to hold a map lock for, and a rare duplicate is harmless
        val inferred = s.read.parquet(path).schema
        schemaCache.put(path, (mtime, inferred))
        inferred
    }
    s.read.schema(schema).parquet(path)
  }

  /** A LIVE extraction materialized once for queries that feed it into a
    * multi-consumer operator (enrichment gates, graph views): the
    * operators' scaladoc contract is a STORED canon table whose re-reads
    * are pruned scans; composing them over a live pipeline re-executes the
    * extraction once per consumer. Under AQE the materialized partitions
    * keep no partitioning, so its subject-keyed consumers shuffle on `subj`
    * themselves.
    */
  private def canonOnce(
      s: SparkSession, pages: DataFrame): org.apache.spark.sql.Dataset[graft.spark.Model.CanonTriple] = {
    import s.implicits._
    SparkRuntime.materialize(KgEngine.extractCanonical(s, pages).toDF())
      .as[graft.spark.Model.CanonTriple]
  }

  /** Empty side tables with the operator-contract schemas, for queries that
    * exercise only part of the enrichment lifecycle.
    */
  private def emptyFetched(docs: DataFrame): DataFrame =
    docs.where(F.lit(false)).select(F.lit("").as("url"), F.lit("").as("html"))

  private def emptyProbes(docs: DataFrame): DataFrame =
    docs.where(F.lit(false)).select(
      F.lit("").as("url"), F.lit("").as("status"), F.lit("").as("canonical_url"))

  /** Shared input for the two entity-linking queries: term mentions harvested
    * from document text plus a small term→entity registry. ONE scan of the
    * corpus — terms explode per row and filter by containment — rather than
    * a union of per-term scans (which would re-read the input once per term
    * at crawl scale).
    */
  private def mentionsAndRegistry(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = t(s, dir, "documents")
    val terms = Seq("spark", "join", "merge", "vector")
    val registry = s.createDataFrame(terms.map(t => (t, s"ent_$t")))
      .toDF("term", "entity_id")
    val mentions = docs
      .select(F.col("doc_id").cast("string").as("subj"),
        F.concat(F.lit(" "), F.col("text"), F.lit(" ")).as("padded"))
      .withColumn("term", F.explode(F.array(terms.map(F.lit): _*)))
      .where(F.col("padded").contains(F.concat(F.lit(" "), F.col("term"), F.lit(" "))))
      .select("subj", "term")
    (mentions, registry)
  }

  /** Shared input for the enrichment-lifecycle queries: extraction plus a
    * parsed pypi registry (Version 9.9.9), a fetched-homepage corpus with a
    * GitHub link per page, and homepage probes (flavor 0 invalid, flavor 6
    * valid) — composed through KgEngine.enrichAll (one canonicalize, then
    * post-enrichment extrapolation, then probe promotion).
    */
  private def fullEnrich(s: SparkSession, dir: String): DataFrame = {
    val pages = SynthPages.fromDocuments(t(s, dir, "documents"))
    // composing enrichAll over a LIVE extraction: the enrichment references
    // canon three times (existing stream, completeness gate, homepage
    // argmax). A subj repartition alone shares nothing — per-consumer
    // column pruning specializes the exchange, so the extraction re-ran
    // once per consumer (profiled: three ~equal-CPU reduce stages under
    // AQE). canonOnce materializes it inside the timed query, once per
    // invocation; in production the stored canon table plays that role.
    val canon = canonOnce(s, pages)
    KgEngine.enrichAll(canon, pypiRegistry(s, dir),
      supportedFields = Seq("Version"), maxCertainty = 1,
      fetched = fetchedHomepages(s, dir), probes = homepageProbes(s, dir)).toDF()
  }

  /** The parsed pypi registry of the enrichment queries as (subj, pred,
    * obj, obj_json): every subject's registry payload claims Version 9.9.9.
    * The parse is a `ScalaKernel` exploded inside the scan's codegen stage,
    * not a typed flatMap (a deserializer, a map stage and a serializer).
    */
  private[graft] def pypiRegistry(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(F.concat(F.lit("https://replay.invalid/proj"), F.col("doc_id").cast("long"),
          F.lit("/")).as("subj"),
        F.explode(graft.functions.ScalaKernel.column(s, "pypi_registry_datums", pypiDatums,
          KgEngine.DatumsType, F.col("doc_id").cast("long"))).as("d"))
      .select(F.col("subj"), F.col("d.pred").as("pred"), F.col("d.obj").as("obj"),
        F.col("d.obj_json").as("obj_json"))

  /** A doc_id's parsed pypi payload. */
  private val pypiDatums: Array[Any] => Any = args => KgEngine.datumArray(
    graft.registry.RegistryParsers
      .parsePypi(graft.spark.SynthRegistry.pypi(args(0).asInstanceOf[Long], "9.9.9"))
      .getOrElse(Nil))

  /** The crawled homepage corpus (url, html): one page per doc at
    * https://proj<id>.example.com/, linking a GitHub repository.
    */
  private def fetchedHomepages(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      F.concat(F.lit("https://proj"), F.col("doc_id"), F.lit(".example.com/")).as("url"),
      F.concat(
        F.lit("<html><body><p>Project page.</p><a href=\"https://github.com/org"),
        F.pmod(F.col("doc_id"), F.lit(97)), F.lit("/proj"), F.col("doc_id"),
        F.lit("\">GitHub</a></body></html>")).as("html"))

  /** Homepage probes (url, status, canonical_url): flavor-0 homepages probe
    * invalid, flavor-6 homepages probe valid, every other url is unprobed.
    */
  private def homepageProbes(s: SparkSession, dir: String): DataFrame = {
    val hp = F.concat(F.lit("https://proj"), F.col("doc_id"), F.lit(".example.com/"))
    t(s, dir, "documents")
      .where(F.pmod(F.col("doc_id"), F.lit(8)).isin(0, 6))
      .select(
        hp.as("url"),
        F.when(F.pmod(F.col("doc_id"), F.lit(8)) === 0, "invalid")
          .otherwise("valid").as("status"),
        hp.as("canonical_url"))
  }

  /** The canon-row builder of the dispatch queries: one fixture-origin row
    * (subj, pred, obj, cert) per doc that matches `filter`.
    */
  private def fixtureRow(docs: DataFrame, subj: org.apache.spark.sql.Column)(
      pred: String, obj: org.apache.spark.sql.Column,
      cert: Int, filter: org.apache.spark.sql.Column): DataFrame =
    docs.where(filter).select(subj.as("subj"), F.lit(pred).as("pred"),
      obj.as("obj"), F.lit("").as("obj_json"),
      F.lit(cert).as("certainty"), F.lit("fixture").as("origin"))

  /** The churn fixture of the `kg_incremental*` queries, keyed by
    * doc_id % 10 (`m`):
    *   %10 == 0 → absent from `base`, arrives in `delta` (new subject)
    *   %10 == 5 → `base` holds a week-old corrupted capture; `delta` wins
    *   %10 == 1 → `delta` carries an even staler corrupted recapture (no-op)
    *   rest     → untouched; served from the base store
    * `reChanged` is `delta` plus %10==7 changing in BOTH of its batches: a
    * NEWER corrupted version in batch 1, then the live content 3 days
    * ahead (beating batch 1's +2d) in batch 2. Every winner converges to
    * the live capture. The store lives under `name` in the temp dir.
    */
  private final class Churn(s: SparkSession, dir: String, name: String) {
    val live: DataFrame = SynthPages.fromDocuments(t(s, dir, "documents"))
    val m: org.apache.spark.sql.Column = F.pmod(
      F.regexp_extract(F.col("url"), "proj(\\d+)/", 1).cast("long"), F.lit(10))
    def corrupt(p: DataFrame, days: Int): DataFrame = p
      .withColumn("warc_ts", F.col("warc_ts") - F.expr(s"INTERVAL $days DAYS"))
      .withColumn("text", F.concat(F.col("text"), F.lit("\nSTALE RECRAWL GARBAGE")))
    val base: DataFrame = live.where(m =!= 0 && m =!= 5)
      .unionByName(corrupt(live.where(m === 5), 7))
    val delta: DataFrame = live.where(m === 0 || m === 5)
      .unionByName(corrupt(live.where(m === 1), 14))
    def reChanged: Seq[DataFrame] = Seq(
      delta.unionByName(corrupt(live.where(m === 7), -2)),
      live.where(m === 7).withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 3 DAYS")))

    val path: String = new java.io.File(sys.props("java.io.tmpdir"), name).getAbsolutePath
    val (caps, tri) = (s"${name}_caps", s"${name}_tri")
    val (clog, tlog) = (s"$path/clog", s"$path/tlog")

    /** Initialize the store from `base` and append `batches` as log
      * batches 1, 2, …
      */
    def maintain(batches: DataFrame*): Unit = {
      graft.spark.Incremental.initStore(s, base, caps, tri, path, buckets = 8)
      graft.spark.Incremental.initLogs(s, clog, tlog)
      for ((pages, i) <- batches.zipWithIndex)
        graft.spark.Incremental.appendDelta(s, pages, caps, clog, tlog, batch = i + 1)
    }

    /** The base ⊕ log triple view in the oracle's column order. */
    def view(baseTriples: String = tri, tlogPath: String = tlog): DataFrame =
      graft.spark.Incremental.currentTriples(
        BucketedStore.read(s, baseTriples), graft.spark.Incremental.readLog(s, tlogPath))
        .select("subj", "pred", "obj")
        .orderBy("subj", "pred")
  }

  /** Flagship: full KG construction (synth pages → canonical triples). */
  def entry(spark: SparkSession): DataFrame = {
    val docs = t(spark, "/root/testdata/sf0.001", "documents")
    KgEngine.extractCanonical(spark, SynthPages.fromDocuments(docs)).toDF()
  }

  private val dec = "decimal(18,2)"

  /** Exact integer centi-units of a 2-decimal DOUBLE column: per-row
    * round(x*100) then BIGINT sum — order-independent and encoding-stable in
    * the driver's hash compare (DECIMAL sums of DOUBLE inputs were value-
    * exact but hash-red in round 1).
    */
  private def centi(col: String): org.apache.spark.sql.Column =
    F.round(F.col(col) * 100).cast("long")

  /** The doubled corpus of the dedup queries: every (`id`, `payload`) row
    * becomes rows 2·id and 2·id+1, so each item has one exact duplicate and
    * no eager count() pass is needed to mint the new ids.
    */
  private def doubled(df: DataFrame, id: String, payload: String): DataFrame = {
    val in = df.select(id, payload)
    in.select((F.col(id) * 2).as(id), F.col(payload))
      .unionByName(in.select((F.col(id) * 2 + 1).as(id), F.col(payload)))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------- relational core ----------
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          F.sum(centi("l_quantity")).as("sum_qty_centi"),
          F.sum(centi("l_extendedprice")).as("sum_price_centi"),
          F.count(F.lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q2_join_broadcast" -> ((s, dir) => {
      t(s, dir, "orders")
        .join(F.broadcast(t(s, dir, "customer")),
          F.col("o_custkey") === F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
          F.count(F.lit(1)).as("n_orders"),
          F.sum(F.col("o_totalprice").cast(dec)).cast(dec).as("revenue"))
        .orderBy("c_mktsegment")
    }),
    "q3_topk" -> ((s, dir) => {
      t(s, dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    }),
    "q4_star_join" -> ((s, dir) => {
      // Round 6 planned lineitem⋈orders as a sort-merge join. Both sides
      // scale with the fact data (broadcast would be a local-only trick), so:
      // (1) aggregate the fact BEFORE the join — the grouping key r_name is
      //     functionally downstream of l_orderkey, so count/sum pre-aggregate
      //     per orderkey with map-side partials and the join input drops from
      //     |lineitem| to |distinct orderkeys| (guide §2.3 "aggregate before
      //     you shuffle"); the pre-aggregate's exchange IS the join's
      //     exchange, so no extra shuffle appears;
      // (2) join the pre-aggregated fact to orders as a shuffled-hash join
      //     (same exchanges as sort-merge, no sorts — guide §3.1; AQE
      //     skew-split still applies).
      // Result-identical: integer counts/centi-sums re-aggregate exactly.
      t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
          F.count(F.lit(1)).as("_n_items"),
          F.sum(centi("l_quantity")).as("_qty_centi"))
        .join(t(s, dir, "orders").hint("shuffle_hash"),
          F.col("l_orderkey") === F.col("o_orderkey"))
        .join(F.broadcast(t(s, dir, "customer")), F.col("o_custkey") === F.col("c_custkey"))
        .join(F.broadcast(t(s, dir, "nation")), F.col("c_nationkey") === F.col("n_nationkey"))
        .join(F.broadcast(t(s, dir, "region")), F.col("n_regionkey") === F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
          F.sum("_n_items").as("n_items"),
          F.sum("_qty_centi").as("sum_qty_centi"))
        .orderBy("r_name")
    }),
    "q5_events_daily" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(F.col("event_type"), F.date_trunc("day", F.col("ts")).as("day"))
        .agg(
          F.count(F.lit(1)).as("n"),
          F.sum(centi("value")).as("total_value_centi"))
        .orderBy("event_type", "day")
    }),
    "q5_window_form" -> ((s, dir) =>
      // the streaming dailyCounts transform evaluated in batch mode — the
      // same plan the watermarked stream runs per trigger
      graft.spark.EventStreaming.dailyCounts(t(s, dir, "events"))
        .orderBy("event_type", "day")),
    "q6_sessions" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("tsec", F.unix_timestamp(F.col("ts")))
      val w = Window.partitionBy("user_id").orderBy("tsec", "event_id")
      ev.withColumn("gap", F.col("tsec") - F.lag("tsec", 1).over(w))
        .withColumn("new_session",
          F.when(F.col("gap").isNull || F.col("gap") > 1800, 1).otherwise(0))
        .groupBy("user_id")
        .agg(
          F.count(F.lit(1)).as("n_events"),
          F.sum("new_session").as("n_sessions"))
        .orderBy("user_id")
    }),
    "q7_window_top_order" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") === 1)
        .select(F.col("o_custkey"), F.col("o_orderkey"), F.col("o_totalprice"))
        .orderBy("o_custkey")
    }),

    "q8_anti_join" -> ((s, dir) => {
      val discounted = t(s, dir, "lineitem").where(F.col("l_discount") > 0.09)
      t(s, dir, "part")
        .join(discounted, F.col("p_partkey") === F.col("l_partkey"), "left_anti")
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
    }),
    "q9_semi_join" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), F.col("c_custkey") === F.col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).as("n_customers"))
        .orderBy("c_mktsegment")
    }),
    "q10_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).as("n"),
          F.sum(centi("l_quantity")).as("sum_qty_centi"))
        .orderBy(F.asc_nulls_first("l_returnflag"), F.asc_nulls_first("l_linestatus"))
    }),
    "q11_set_ops" -> ((s, dir) => {
      // intersect and exceptAll legs, tagged so both set ops are exercised
      // and oracle-verified in one result
      val withOrders = t(s, dir, "orders").select(F.col("o_custkey").as("custkey")).distinct()
      val highBal = t(s, dir, "customer").where(F.col("c_acctbal") > 5000)
        .select(F.col("c_custkey").as("custkey"))
      withOrders.intersect(highBal).withColumn("leg", F.lit("both"))
        .unionByName(withOrders.exceptAll(highBal).withColumn("leg", F.lit("only_orders")))
        .orderBy("leg", "custkey")
    }),
    "q12_json" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("k", F.get_json_object(F.col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).as("n"), F.sum("k").as("sum_k"))
        .orderBy("event_type")
    }),

    // ---------- text analysis ----------
    "doc_token_stats" -> ((s, dir) => TrainingOps.tokenStats(t(s, dir, "documents"))),
    "doc_quality" -> ((s, dir) =>
      TrainingOps.qualityScores(t(s, dir, "documents")).orderBy("doc_id")),
    "doc_langid" -> ((s, dir) =>
      TrainingOps.langIdHeuristic(t(s, dir, "documents")).orderBy("doc_id")),
    "doc_fingerprint" -> ((s, dir) =>
      TrainingOps.fingerprints(t(s, dir, "documents")).orderBy("doc_id")),

    // ---------- deduplication ----------
    "dedup_exact" -> ((s, dir) =>
      TrainingOps.dedupExact(t(s, dir, "documents")).orderBy("content_hash")),
    "dedup_minhash" -> ((s, dir) => {
      // MinHash+LSH generates candidates over the doubled corpus,
      // exact-hash verification confirms. The hash table feeds two
      // differently-aliased joins (a/b endpoints) that cannot share an
      // exchange — materialize it once instead.
      val docs = doubled(t(s, dir, "documents"), "doc_id", "text")
      val withHash = SparkRuntime.materialize(docs.withColumn("h", F.md5(F.col("text"))))
      TrainingOps.minhashCandidatePairs(docs)
        .join(withHash.select(F.col("doc_id").as("a"), F.col("h").as("ha")), "a")
        .join(withHash.select(F.col("doc_id").as("b"), F.col("h").as("hb")), "b")
        .where(F.col("ha") === F.col("hb"))
        .select("a", "b")
        .orderBy("a", "b")
    }),
    "dedup_ngram" -> ((s, dir) => {
      // w-shingling Jaccard dedup at threshold 1.0 (identical shingle sets —
      // the oracle-exact operating point; banding recall is 1 there)
      TrainingOps.minhashDedupPairs(doubled(t(s, dir, "documents"), "doc_id", "text"),
        threshold = 1.0).orderBy("a", "b")
    }),
    "dedup_simhash" -> ((s, dir) =>
      TrainingOps.simhashPairs(doubled(t(s, dir, "documents"), "doc_id", "text"),
        maxDist = 0).orderBy("a", "b")),
    "dedup_pipeline" -> ((s, dir) => {
      // exact-first composed dedup over a corpus with a 10,000-copy
      // duplicate flood of doc 0's text (ids 1_000_000+i): the flood
      // collapses to ONE representative before any LSH banding (the naive
      // form would emit ~5·10⁷ intra-bucket candidates), and the result
      // still equals the naive all-pairs semantics — the oracle computes
      // the naive form and both sides aggregate the ~5·10⁷ pairs per
      // left-endpoint so the compared result stays ~10⁴ rows
      val docs = t(s, dir, "documents")
        .select(F.col("doc_id").cast("long").as("doc_id"), F.col("text"))
      val flood = docs.where(F.col("doc_id") === 0)
        .crossJoin(s.range(10000).select(F.col("id")))
        .select((F.lit(1000000L) + F.col("id")).as("doc_id"), F.col("text"))
      TrainingOps.dedupPipeline(docs.unionByName(flood), threshold = 1.0)
        .groupBy("a")
        .agg(
          F.count(F.lit(1)).as("n_partners"),
          F.sum("b").as("sum_b"),
          // every pair in this corpus is exact (jaccard literally 1.0), so
          // the double sum is integral and order-independent
          F.sum("jaccard").as("sum_jaccard"))
        .orderBy("a")
    }),

    // ---------- similarity search ----------
    "ann_brute" -> ((s, dir) =>
      TrainingOps.annBruteForce(t(s, dir, "embeddings"))),
    "ann_lsh" -> ((s, dir) =>
      TrainingOps.annLsh(t(s, dir, "embeddings"))),
    "ann_ivf" -> ((s, dir) =>
      TrainingOps.annIvf(t(s, dir, "embeddings"))),
    "ann_ivf_trained" -> ((s, dir) => {
      // the full IVF lifecycle: two Lloyd's iterations train the coarse
      // quantizer (means rounded to 6 decimals so both engines' float
      // summation orders agree), then retrieval probes the TRAINED cells;
      // the oracle unrolls the same two assignment/mean steps in SQL
      val emb = t(s, dir, "embeddings")
      val trained = TrainingOps.trainIvfCentroids(emb)
      TrainingOps.annIvf(emb, cents = trained)
    }),
    "dedup_embedding" -> ((s, dir) => {
      // embedding-cosine near-dup over the doubled corpus: LSH-bucketed
      // candidates, exact cosine >= 0.95 (only the injected duplicates reach
      // it — the max non-duplicate pairwise cosine in this corpus is ~0.51)
      TrainingOps.dedupEmbedding(doubled(t(s, dir, "embeddings"), "vec_id", "embedding"))
        .orderBy("a", "b")
    }),

    // ---------- multimodal decode ----------
    "multimodal_decode" -> ((s, dir) => {
      // deterministic BMP blobs (pure function of doc_id) exercise the real
      // header decode; the oracle rebuilds the identical bytes in SQL
      import s.implicits._
      val media = t(s, dir, "documents")
        .select(F.col("doc_id").cast("long")).as[Long]
        .map(id => (id, TrainingOps.syntheticBmp(id)))
        .toDF("doc_id", "blob")
      TrainingOps.decodeMediaBatch(s, media).toDF().orderBy("doc_id")
    }),
    "multimodal_resize" -> ((s, dir) => {
      // real nearest-neighbor ÷2 pixel resample over the decoded BMPs; the
      // all-black payloads keep the pixel fingerprint closed-form in SQL,
      // and four literal NON-black patterned vectors (ids 9000101..9000404,
      // incl. 1×1 and odd-dimension/padded shapes) keep the pixel walk
      // honest — their expected fingerprints are constants in the oracle,
      // derived with an independent implementation of the resample spec
      import s.implicits._
      val media = t(s, dir, "documents")
        .select(F.col("doc_id").cast("long")).as[Long]
        .map(id => (id, TrainingOps.syntheticBmp(id)))
        .toDF("doc_id", "blob")
      val patterned = Seq(
        (9000101L, 5, 4), (9000202L, 1, 1), (9000303L, 16, 9), (9000404L, 7, 3))
      val extra = s.createDataFrame(patterned.map { case (id, w, h) =>
        (id, TrainingOps.syntheticBmpPattern(id, w, h)) }).toDF("doc_id", "blob")
      TrainingOps.resizeMediaBatch(s, media.unionByName(extra)).toDF()
        .orderBy("doc_id")
    }),
    "multimodal_frames" -> ((s, dir) => {
      // frame sampling over length-prefixed clips with VARIABLE-size frames
      // (frame i of doc id is (1+(id+3i)%16) × (1+(id+5i)%12), every 2nd
      // sampled) — the walk advances by each frame's own declared file
      // size, so a fixed-stride shortcut would desynchronize and fail
      import s.implicits._
      val clips = t(s, dir, "documents")
        .select(F.col("doc_id").cast("long")).as[Long]
        .map(id => (id, TrainingOps.syntheticClipVaried(id)))
        .toDF("doc_id", "blob")
      TrainingOps.sampleFrames(s, clips).toDF().orderBy("doc_id", "frame_idx")
    }),

    // ---------- knowledge-graph construction ----------
    "kg_canonical" -> ((s, dir) => {
      val pages = SynthPages.fromDocuments(t(s, dir, "documents"))
      KgEngine.extractCanonical(s, pages).toDF()
        .select("subj", "pred", "obj")
        .orderBy("subj", "pred")
    }),
    "kg_canonical_dup" -> ((s, dir) => {
      // duplicate-capture determinism: the batch holds three captures per
      // page — the live one, a week-older stale recrawl with corrupted
      // content, and an exact same-timestamp duplicate. The newest capture
      // must win per (subj, relpath), and the same-ts duplicate must be a
      // no-op, so the canonical table equals the single-capture one exactly.
      val pages = SynthPages.fromDocuments(t(s, dir, "documents"))
      val stale = pages
        .withColumn("warc_ts", F.col("warc_ts") - F.expr("INTERVAL 7 DAYS"))
        .withColumn("text", F.concat(F.col("text"), F.lit("\nSTALE RECRAWL GARBAGE")))
      KgEngine.extractCanonical(s, pages.unionByName(stale).unionByName(pages)).toDF()
        .select("subj", "pred", "obj")
        .orderBy("subj", "pred")
    }),
    "kg_canonical_pre" -> ((s, dir) => {
      // the datum-shipping engine variant (extract before the shuffle) must
      // produce the identical canonical table — same oracle as kg_canonical
      val pages = SynthPages.fromDocuments(t(s, dir, "documents"))
      KgEngine.extractCanonicalPreExtract(s, pages).toDF()
        .select("subj", "pred", "obj")
        .orderBy("subj", "pred")
    }),
    "kg_canonical_stored" -> ((s, dir) => {
      // the subj-bucketed publication round trip (BucketedStore): write the
      // canonical table CLUSTERED BY subj, read it back through the catalog
      // — content must equal kg_canonical exactly (same oracle), while the
      // bucketed scan feeds subj-keyed consumers shuffle-free
      // (plan-asserted in BucketedStoreSpec)
      val pages = SynthPages.fromDocuments(t(s, dir, "documents"))
      val canon = KgEngine.extractCanonical(s, pages).toDF()
      val path = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_canon_stored").getAbsolutePath
      BucketedStore.publishBySubj(canon, "graft_canon_stored", path, buckets = 8)
      BucketedStore.read(s, "graft_canon_stored")
        .select("subj", "pred", "obj")
        .orderBy("subj", "pred")
    }),
    "kg_incremental" -> ((s, dir) => {
      // incremental maintenance of the subj-bucketed store: a base crawl
      // initializes captures+triples, today's recrawl appends ONE log batch
      // that re-extracts ONLY subjects whose winning captures changed, and
      // the graph is the base ⊕ log view. Every winner converges to the
      // live capture, so the view must equal the one-shot kg_canonical —
      // same oracle.
      val c = new Churn(s, dir, "graft_inc")
      c.maintain(c.delta)
      c.view()
    }),
    "kg_incremental_log" -> ((s, dir) => {
      // TWO appended batches read through the base ⊕ log view, with a
      // subject re-changed in the second: the latest batch's re-extraction
      // must win the view. Same live-corpus closed form as kg_incremental.
      val c = new Churn(s, dir, "graft_incl")
      c.maintain(c.reChanged: _*)
      c.view()
    }),
    "kg_incremental_compact" -> ((s, dir) => {
      // the amortized O(store) pass: fold the two-batch log into fresh
      // bucketed base tables; the compacted triple table (with its fresh
      // empty logs) must equal the pre-compaction view — i.e. the same
      // live-corpus closed form as kg_incremental_log
      val c = new Churn(s, dir, "graft_incc")
      c.maintain(c.reChanged: _*)
      graft.spark.Incremental.compact(s, c.caps, c.tri, c.clog, c.tlog,
        s"${c.caps}_c", s"${c.tri}_c", s"${c.path}/c", buckets = 8)
      c.view(s"${c.tri}_c", s"${c.path}/c/tlog")
    }),
    "kg_incremental_stats" -> ((s, dir) => {
      // per-batch maintenance lineage from the logs alone: batch 1 changes
      // the %10∈{0,5} subjects (every capture replaced AND content-changed,
      // their full triple sets re-extracted); batch 2 is a pure ts refresh
      // of %10==2 (captures replaced, nothing changed, nothing re-extracted)
      // plus an inert stale recapture of %10==1. Counts are closed-form:
      // files per subject = 2 + 3·[flavor=4], triples from the expected CTE.
      val c = new Churn(s, dir, "graft_incs")
      import c.{live, m}
      c.maintain(c.delta,
        live.where(m === 2)
          .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAYS"))
          .unionByName(c.corrupt(live.where(m === 1), 14)))
      graft.spark.Incremental.batchStats(
        graft.spark.Incremental.readLog(s, c.clog),
        graft.spark.Incremental.readLog(s, c.tlog))
        .orderBy("batch")
    }),
    "kg_edges" -> ((s, dir) => {
      val pages = SynthPages.fromDocuments(t(s, dir, "documents"))
      KgEngine.edges(KgEngine.extractCanonical(s, pages))
        .select("src", "pred", "dst")
        .orderBy("src", "pred")
    }),
    "kg_nodes" -> ((s, dir) => {
      val pages = SynthPages.fromDocuments(t(s, dir, "documents"))
      KgEngine.nodes(KgEngine.extractCanonical(s, pages))
        .orderBy("id")
    }),
    "kg_raw_triples" -> ((s, dir) => {
      val pages = SynthPages.fromDocuments(t(s, dir, "documents"))
      KgEngine.extractRaw(s, pages).toDF()
        .select("subj", "pred", "obj", "certainty")
        .orderBy("subj", "pred", "certainty")
    }),
    "kg_canonicalize_agg" -> ((s, dir) => {
      // the Catalyst-native lattice argmax over a raw triple stream
      val pages = SynthPages.fromDocuments(t(s, dir, "documents"))
      KgEngine.canonicalize(KgEngine.extractRaw(s, pages))
        .select("subj", "pred", "obj", "certainty")
        .orderBy("subj", "pred")
    }),
    "kg_mentions_linking" -> ((s, dir) => {
      val (mentions, registry) = mentionsAndRegistry(s, dir)
      KgEngine.linkEntities(mentions, registry)
        .select("subj", "term", "entity_id")
        .orderBy("subj", "term")
    }),
    "kg_linking_shuffle" -> ((s, dir) => {
      // same semantics through the salted shuffle-hash join (the registry-
      // too-big-to-broadcast path)
      val (mentions, registry) = mentionsAndRegistry(s, dir)
      KgEngine.linkEntitiesShuffleSalted(mentions, registry)
        .select("subj", "term", "entity_id")
        .orderBy("subj", "term")
    }),
    "kg_yaml_sink" -> ((s, dir) => {
      // per-subject YAML rendering (the reference CLI's output surface),
      // rendered INSIDE the extraction group — one exchange, no second
      // groupBy over the triples
      val pages = SynthPages.fromDocuments(t(s, dir, "documents"))
      KgEngine.extractAndRender(s, pages, graft.pipeline.Sinks.toYaml)
        .toDF("subj", "yaml")
        .orderBy("subj")
    }),
    "kg_codemeta_sink" -> ((s, dir) => {
      val pages = SynthPages.fromDocuments(t(s, dir, "documents"))
      KgEngine.extractAndRender(s, pages, graft.pipeline.Sinks.toCodemeta)
        .toDF("subj", "codemeta")
        .orderBy("subj")
    }),
    "kg_linking_fuzzy" -> ((s, dir) => {
      // corpus vocabulary fuzzy-matched against registry aliases by 3-gram
      // Jaccard; gram-join blocking keeps the verify off the cross product
      val vocab = t(s, dir, "documents")
        .select(F.explode(F.split(F.col("text"), " ")).as("term"))
        .distinct()
      val registry = s.createDataFrame(Seq(
        ("sparky", "ent_spark"), ("streams", "ent_stream"),
        ("filters", "ent_filter"), ("windowed", "ent_window"),
        ("merge", "ent_merge"), ("zzznomatch", "ent_none")
      )).toDF("alias", "entity_id")
      KgEngine.linkEntitiesFuzzy(vocab, registry, threshold = 0.5)
        .orderBy("term", "entity_id")
    }),
    "kg_enrich_gated" -> ((s, dir) => {
      // anti-join-gated registry enrichment: a synthetic external directory
      // claims Version 9.9.9 at Likely for every subject; only subjects whose
      // Version is absent (cabal flavor) gain it — Certain/Confident
      // extractions win the lattice, complete subjects never consult the
      // registry at all
      val pages = SynthPages.fromDocuments(t(s, dir, "documents"))
      val canon = canonOnce(s, pages)
      val registry = t(s, dir, "documents").select(
        F.concat(F.lit("https://replay.invalid/proj"), F.col("doc_id"), F.lit("/")).as("subj"),
        F.lit("Version").as("pred"),
        F.lit("9.9.9").as("obj"))
      KgEngine.enrichFromRegistry(canon, registry,
          supportedFields = Seq("Version"), maxCertainty = 1)
        .toDF()
        .where(F.col("pred") === "Version")
        .select("subj", "obj", "certainty")
        .orderBy("subj")
    }),
    "kg_registry_payloads" -> ((s, dir) => {
      // the registry payload parsers as a distributed operator: a registry-
      // snapshot side table (kind, raw API payload) parses into provenance-
      // tagged datums — the offline core of the reference's 15 network
      // providers, exercised across all five JSON registry dialects
      import s.implicits._
      t(s, dir, "documents").select(F.col("doc_id").cast("long")).as[Long]
        .flatMap { id =>
          val subj = "reg:proj" + id
          val kind = graft.spark.SynthRegistry.kindOf(id)
          graft.registry.RegistryParsers
            .parse(kind, graft.spark.SynthRegistry.payload(id))
            .getOrElse(Nil)
            .map(d => (subj, d.field,
              graft.spark.Model.objForms(d.value)._1, d.certainty.getOrElse(-1)))
        }
        .toDF("subj", "pred", "obj", "certainty")
        .orderBy("subj", "pred", "obj")
    }),
    "kg_enrich_registry" -> ((s, dir) => {
      // end-to-end: RAW pypi payloads (claiming Version 9.9.9) parse into a
      // registry side table that feeds the anti-join-gated enrichment — only
      // the version-less cabal flavor gains the registry's value, capped at
      // Likely; everything else keeps its extracted Version
      val pages = SynthPages.fromDocuments(t(s, dir, "documents"))
      val canon = canonOnce(s, pages)
      KgEngine.enrichFromRegistry(canon, pypiRegistry(s, dir),
          supportedFields = Seq("Version"), maxCertainty = 1)
        .toDF()
        .where(F.col("pred") === "Version")
        .select("subj", "obj", "certainty")
        .orderBy("subj")
    }),
    "kg_doap_sink" -> ((s, dir) => {
      val pages = SynthPages.fromDocuments(t(s, dir, "documents"))
      KgEngine.extractAndRender(s, pages, graft.pipeline.Sinks.toDoap)
        .toDF("subj", "doap")
        .orderBy("subj")
    }),
    "kg_homepage_scrape" -> ((s, dir) => {
      // extrapolation rule 14 over a crawled-homepage side table: flavor 6
      // (setup.py, non-forge homepage, no Repository) gains a Possible
      // Repository from the scraped GitHub link; every other flavor's
      // higher-certainty extraction wins the re-argmax
      val pages = SynthPages.fromDocuments(t(s, dir, "documents"))
      val canon = canonOnce(s, pages)
      KgEngine.enrichFromHomepages(canon, fetchedHomepages(s, dir)).toDF()
        .where(F.col("pred") === "Repository")
        .select("subj", "obj", "certainty")
        .orderBy("subj")
    }),
    "kg_check_promote" -> ((s, dir) => {
      // check_upstream_metadata over a probe-status side table: flavor-0
      // homepages probe invalid (deleted), flavor-6 homepages probe valid
      // (promoted Likely → Certain), everything else goes unprobed
      val pages = SynthPages.fromDocuments(t(s, dir, "documents"))
      val canon = canonOnce(s, pages)
      KgEngine.applyUrlProbes(canon, homepageProbes(s, dir)).toDF()
        .where(F.col("pred") === "Homepage")
        .select("subj", "obj", "certainty")
        .orderBy("subj")
    }),
    "kg_extend_sf" -> ((s, dir) => {
      // the extend-stage SourceForge derivation (lib.rs:3521-3554) driven
      // distributed: a registry Download naming an SF project derives
      // Archive + SourceForge-Project at Likely inside the fused extend
      // pass; Homepage/Bug-*/Repository* are checked first (none match), so
      // the oracle also pins the reference's field order and Likely cap
      val pages = SynthPages.fromDocuments(t(s, dir, "documents"))
      import s.implicits._
      // same single-execution barrier as fullEnrich (guide §3.3)
      val canon = canonOnce(s, pages)
      val docs = t(s, dir, "documents")
      val registry = docs.select(
        F.concat(F.lit("https://replay.invalid/proj"), F.col("doc_id"), F.lit("/")).as("subj"),
        F.lit("Download").as("pred"),
        F.concat(F.lit("https://sourceforge.net/projects/proj"), F.col("doc_id"),
          F.lit("/files/latest")).as("obj"))
      KgEngine.enrichAll(canon, registry,
          supportedFields = Seq("Download"), maxCertainty = 1,
          fetched = emptyFetched(docs), probes = emptyProbes(docs)).toDF()
        .where(F.col("pred").isin("Archive", "SourceForge-Project"))
        .select("subj", "pred", "obj", "certainty")
        .orderBy("subj", "pred")
    }),
    "kg_check_browse_sync" -> ((s, dir) => {
      // Repository probe parity: flavor-4 (debian) repositories probe valid —
      // the Confident→Certain promotion AND the Repository-Browse certainty
      // sync (derived browse == existing browse → browse 2→3); flavor-2
      // (gitlab) repositories probe invalid — deleted, browse untouched
      val pages = SynthPages.fromDocuments(t(s, dir, "documents"))
      val canon = canonOnce(s, pages)
      val docs = t(s, dir, "documents")
      val flavor = F.pmod(F.col("doc_id"), F.lit(8))
      val repo = F.concat(
        F.when(flavor === 2, F.lit("https://gitlab.com/org"))
          .otherwise(F.lit("https://github.com/org")),
        F.pmod(F.col("doc_id"), F.lit(97)), F.lit("/proj"), F.col("doc_id"),
        F.lit(".git"))
      val probes = docs.where(flavor.isin(2, 4))
        .select(
          repo.as("url"),
          F.when(flavor === 4, "valid").otherwise("invalid").as("status"),
          repo.as("canonical_url"))
      KgEngine.applyUrlProbes(canon, probes).toDF()
        .where(F.col("pred").isin("Repository", "Repository-Browse"))
        .select("subj", "pred", "obj", "certainty")
        .orderBy("subj", "pred")
    }),
    "kg_check_screenshots" -> ((s, dir) => {
      // Screenshots tri-state re-verification over a probe side table: every
      // subject holds a Likely 2-url list; url 1 probes live except every
      // fifth doc (dead), url 2 probes dead for even docs and goes UNPROBED
      // for odd docs — unprobed drops the url AND demotes the list back to
      // Likely; fully-probed lists promote to Certain
      import s.implicits._
      val docs = t(s, dir, "documents")
      val img1 = F.concat(F.lit("https://img.example.com/p"), F.col("doc_id"), F.lit("/1.png"))
      val img2 = F.concat(F.lit("https://img.example.com/p"), F.col("doc_id"), F.lit("/2.png"))
      val canon = docs.select(
          F.concat(F.lit("shot:proj"), F.col("doc_id")).as("subj"),
          F.lit("Screenshots").as("pred"),
          F.lit("").as("obj"),
          F.concat(F.lit("[\""), img1, F.lit("\",\""), img2, F.lit("\"]")).as("obj_json"),
          F.lit(graft.core.Certainty.Likely).as("certainty"),
          F.lit("probe-test").as("origin"))
        .as[graft.spark.Model.CanonTriple]
      val shotProbes = docs
        .select(img1.as("url"), (F.pmod(F.col("doc_id"), F.lit(5)) =!= 0).as("live"))
        .unionByName(docs.where(F.pmod(F.col("doc_id"), F.lit(2)) === 0)
          .select(img2.as("url"), F.lit(false).as("live")))
      KgEngine.applyUrlProbes(canon, emptyProbes(docs), Some(shotProbes)).toDF()
        .select("subj", "obj_json", "certainty")
        .orderBy("subj")
    }),
    "kg_full_enrich" -> ((s, dir) => {
      // the full enrichment lifecycle in the reference's order (extend →
      // extrapolate → check), composed through enrichAll: ONE canonicalize
      // over the union of the existing, parsed-registry, and homepage-scrape
      // raw streams, then the post-enrichment extrapolation fixpoint on the
      // enriched subjects, then URL-probe promotion/deletion. Replaces the
      // round-3 staged chain, which re-shuffled the full triple table per
      // stage; oracle unchanged (result-identical by construction).
      fullEnrich(s, dir)
        .where(F.col("pred").isin("Version", "Repository", "Homepage"))
        .select("subj", "pred", "obj", "certainty")
    }),
    "kg_enrich_extrapolate" -> ((s, dir) => {
      // post-enrichment extrapolation (reference lifecycle: extend THEN
      // extrapolate, lib.rs:3695): flavor 6 gains Repository at Possible
      // from the homepage scrape and must then DERIVE Repository-Browse,
      // Bug-Database and Bug-Submit at Possible — rows that simply don't
      // exist without the post-enrichment fixpoint. Every other flavor is
      // already at its extract-time fixpoint and passes through unchanged.
      fullEnrich(s, dir)
        .where(F.col("pred").isin("Repository-Browse", "Bug-Database", "Bug-Submit"))
        .select("subj", "pred", "obj", "certainty")
    }),
    "kg_enrich_author" -> ((s, dir) => {
      // structured registry payloads through the distributed path: pypi
      // Author parses to a typed person list whose obj_json must survive
      // enrichment — flavor 0 keeps its extracted Author (Confident beats
      // the Likely-capped registry), every other flavor gains the registry
      // person WITH its structured JSON form intact
      val pages = SynthPages.fromDocuments(t(s, dir, "documents"))
      val canon = canonOnce(s, pages)
      KgEngine.enrichFromRegistry(canon, pypiRegistry(s, dir),
          supportedFields = Seq("Author"), maxCertainty = 1)
        .toDF()
        .where(F.col("pred") === "Author")
        .select("subj", "obj", "obj_json", "certainty")
        .orderBy("subj")
    }),
    "kg_enrich_archive" -> ((s, dir) => {
      // archive-dispatch enrichment (lib.rs:3555-3650): subjects route to a
      // provider by their OWN Archive/*-Project fields. Per doc_id % 4:
      //   0 — Homepage/Name/Repository/Bug-Database all Certain → the
      //       possible_fields_missing gate BLOCKS; payload never consulted
      //   1 — Homepage Certain, Repo/Bug-DB absent → gains both at the
      //       Archive datum's certainty (Likely); Homepage keeps
      //   2 — Homepage Possible → the SF homepage (Likely) REPLACES it
      //   3 — no url fields → gains all three
      // A crates.io-keyed payload table rides along and must never be
      // consulted (no subject carries Archive=crates.io).
      import s.implicits._
      val docs = t(s, dir, "documents")
      val m = F.pmod(F.col("doc_id"), F.lit(4))
      val subj = F.concat(F.lit("arch:proj"), F.col("doc_id"))
      val row = fixtureRow(docs, subj) _
      val T = F.lit(true)
      val pn = F.concat(F.lit("proj"), F.col("doc_id"))
      val canon = row("Archive", F.lit("SourceForge"), 1, T)
        .unionByName(row("SourceForge-Project", pn, 1, T))
        .unionByName(row("Name", pn, 3, T))
        .unionByName(row("Homepage",
          F.concat(F.lit("https://keep.example.com/p"), F.col("doc_id")), 3, m <= 1))
        .unionByName(row("Homepage",
          F.concat(F.lit("https://old.example.com/p"), F.col("doc_id")), 0, m === 2))
        .unionByName(row("Repository",
          F.concat(F.lit("https://keep.example.com/r"), F.col("doc_id"), F.lit(".git")), 3, m === 0))
        .unionByName(row("Bug-Database",
          F.concat(F.lit("https://keep.example.com/b"), F.col("doc_id")), 3, m === 0))
        .as[graft.spark.Model.CanonTriple]
      val ids = docs.select(F.col("doc_id").cast("long")).as[Long]
      val payloads = ids
        .map(id => ("SourceForge", "proj" + id, graft.spark.SynthRegistry.sf(id)))
        .union(ids.map(id =>
          ("crates.io", "proj" + id, graft.spark.SynthRegistry.crates(id))))
        .toDF("archive", "project", "payload")
      KgEngine.enrichFromArchive(canon, payloads).toDF()
        .where(F.col("pred").isin("Homepage", "Repository", "Bug-Database"))
        .select("subj", "pred", "obj", "certainty")
        .orderBy("subj", "pred")
    }),
    "kg_enrich_external" -> ((s, dir) => {
      // external-directory dispatch (lib.rs:3652-3694): subjects route to
      // Launchpad, AUR, Gobo, and Repology by the Source name of their OWN
      // debian/control (parsed for real by debianSourceName). Per doc_id % 4:
      //   0 — control has no Source paragraph → routes nowhere, keeps Name
      //   1 — all six union fields Certain → every provider gate BLOCKS
      //   2 — Homepage+Name Certain only → gains Repository from AUR
      //       (Possible; beats gobo by provider order), Wiki from Launchpad
      //       (Possible), and Download/License/Summary from Repology
      //       (Confident; beats Launchpad's Possible values)
      //   3 — only a neutral Version → gains everything; Homepage comes
      //       from Repology (Confident beats three Possible homepages) and
      //       Name from Launchpad (first-provider rank beats gobo's)
      // Every id also ships an unused-package payload per directory that
      // must never be consulted (dispatch isolation).
      import s.implicits._
      val docs = t(s, dir, "documents")
      val m = F.pmod(F.col("doc_id"), F.lit(4))
      val subj = F.concat(F.lit("ext:proj"), F.col("doc_id"))
      val row = fixtureRow(docs, subj) _
      val pn = F.concat(F.lit("proj"), F.col("doc_id"))
      def keep(tag: String) =
        F.concat(F.lit(s"https://keep.example.com/$tag"), F.col("doc_id"))
      val canon = row("Name", pn, 3, m =!= 3)
        .unionByName(row("Homepage", keep("h"), 3, m.isin(1, 2)))
        .unionByName(row("Repository",
          F.concat(keep("r"), F.lit(".git")), 3, m === 1))
        .unionByName(row("Download", keep("d"), 3, m === 1))
        .unionByName(row("License", F.lit("KeepL"), 3, m === 1))
        .unionByName(row("Summary",
          F.concat(F.lit("Keep summary "), F.col("doc_id")), 3, m === 1))
        .unionByName(row("Version",
          F.concat(F.lit("v"), F.col("doc_id")), 3, m === 3))
        .as[graft.spark.Model.CanonTriple]
      // debian/control per subject — m=0 is a binary-only file (no Source
      // paragraph); the real deb822 parse derives the routing key
      val controls = docs.select(F.col("doc_id").cast("long")).as[Long]
        .map { id =>
          val content =
            if (id % 4 == 0) s"Package: bin-proj$id\nArchitecture: any\n"
            else s"Source: pkg$id\nMaintainer: M <m@example.com>\n\n" +
                 s"Package: bin-proj$id\nArchitecture: any\n"
          (s"ext:proj$id", content)
        }.toDF("subj", "control")
      val sources = controls.as[(String, String)]
        .flatMap { case (subjId, content) =>
          KgEngine.debianSourceName(content).map(p => (subjId, p))
        }.toDF("subj", "package")
      val ids = docs.select(F.col("doc_id").cast("long")).as[Long]
      def dirRows(directory: String, payload: Long => String) =
        ids.map(id => (directory, "pkg" + id, payload(id)))
          .union(ids.map(id => (directory, "unusedpkg" + id, payload(id + 7))))
      val payloads = dirRows("launchpad", graft.spark.SynthRegistry.launchpadDir)
        .union(dirRows("aur", graft.spark.SynthRegistry.aurDir))
        .union(dirRows("gobo", graft.spark.SynthRegistry.goboDir))
        .union(dirRows("repology", graft.spark.SynthRegistry.repologyDir))
        .toDF("directory", "package", "payload")
      KgEngine.enrichFromExternalDirectory(canon, sources, payloads).toDF()
        .select("subj", "pred", "obj", "certainty")
        .orderBy("subj", "pred")
    }),
    "kg_lineage" -> ((s, dir) => {
      // lineage WITH the per-subject error channel (SURVEY §1.3): flavor-3
      // projects carry two extra artifacts — a meson.build, whose offline
      // extraction is a provider ERROR (the reference's meson-not-installed
      // path, meson.rs:15-19), and a .git/config pointing at anongit.kde.org,
      // a known_bad_guess Repository dropped pre-merge (lib.rs:876-977) — so
      // errors and dropped_bad are non-zero and flavor-predictable
      val docs = t(s, dir, "documents")
      val f3 = docs.where(F.pmod(F.col("doc_id"), F.lit(8)) === 3)
      def extra(relpath: String, text: org.apache.spark.sql.Column) = f3.select(
        F.concat(F.lit("https://replay.invalid/proj"), F.col("doc_id"),
          F.lit("/" + relpath)).as("url"),
        F.to_timestamp(F.lit(SynthPages.FixedTs)).as("warc_ts"),
        text.cast("binary").as("html"), text.as("text"), F.lit("en").as("lang"))
      val pages = SynthPages.fromDocuments(docs)
        .unionByName(extra("meson.build", F.lit("project('x', 'c')\n")))
        .unionByName(extra(".git/config", F.concat(
          F.lit("[remote \"upstream\"]\n\turl = https://anongit.kde.org/proj"),
          F.col("doc_id"), F.lit(".git\n"))))
      val lin = KgEngine.lineage(pages, KgJob.DefaultBuckets)
        .groupBy()
        .agg(F.sum("input_rows").as("input_rows"), F.sum("emitted").as("emitted"))
      val stats = KgEngine
        .splitStats(KgEngine.extractCanonicalWithStats(s, pages))._2
        .groupBy()
        .agg(F.coalesce(F.sum("errors"), F.lit(0L)).as("errors"),
          F.coalesce(F.sum("dropped_bad"), F.lit(0L)).as("dropped_bad"))
      lin.crossJoin(stats)
    }),
    "kg_resume" -> ((s, dir) => {
      // resume: buckets 0..3 of 8 already committed → only the rest re-emits
      val pages = SynthPages.fromDocuments(t(s, dir, "documents"))
      val remaining = KgEngine.resumeFilter(pages, completedBuckets = Seq(0, 1, 2, 3), buckets = 8)
      KgEngine.extractCanonical(s, remaining).toDF()
        .groupBy().agg(F.count(F.lit(1)).as("n_triples"),
          F.countDistinct("subj").as("n_subjects"))
    })
  )

  /** The ann_lsh oracle replicates the hyperplane LSH exactly: the
    * deterministic hyperplanes are embedded as DOUBLE[] literals (identical
    * values to TrainingOps.hyperplanes), signatures recomputed per (vector,
    * table), candidates joined on (table, signature), then exact cosine
    * top-k among candidates.
    */
  /** The deterministic hyperplane matrix as a SQL VALUES literal — identical
    * doubles to TrainingOps.hyperplanes, shared by the LSH oracles.
    */
  private lazy val hyperplaneValuesSql: String = {
    val hp = TrainingOps.hyperplanes(tables = 4, planes = 8, dim = 64)
    (for { t <- hp.indices; p <- hp(t).indices }
      yield s"($t, $p, [${hp(t)(p).mkString(", ")}]::DOUBLE[])").mkString(",\n")
  }

  private lazy val annLshOracleSql: String = {
    s"""WITH hp(t, p, v) AS (VALUES $hyperplaneValuesSql),
       e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       sig AS (
         SELECT e.vec_id, hp.t,
                sum(CASE WHEN list_dot_product(e.emb, hp.v) > 0
                         THEN 1 << hp.p ELSE 0 END) AS s
         FROM e, hp GROUP BY 1, 2
       ),
       cand AS (
         SELECT DISTINCT q.vec_id AS query_id, c.vec_id
         FROM sig q JOIN sig c ON q.t = c.t AND q.s = c.s
         WHERE q.vec_id < 10 AND c.vec_id != q.vec_id
       ),
       scored AS (
         SELECT cand.query_id, cand.vec_id,
                list_dot_product(qe.emb, ce.emb) /
                  sqrt(list_dot_product(qe.emb, qe.emb) * list_dot_product(ce.emb, ce.emb)) AS cos
         FROM cand
         JOIN e qe ON qe.vec_id = cand.query_id
         JOIN e ce ON ce.vec_id = cand.vec_id
       ),
       ranked AS (
         SELECT query_id, vec_id,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, vec_id ASC) AS rank
         FROM scored
       )
       SELECT query_id, CAST(rank AS INT) AS rank, vec_id
       FROM ranked WHERE rank <= 10 ORDER BY 1, 2"""
  }

  /** The deterministic IVF centroid matrix as a SQL VALUES literal —
    * identical doubles to TrainingOps.centroids.
    */
  private lazy val centroidValuesSql: String = {
    val cs = TrainingOps.centroids(nlist = 16, dim = 64)
    cs.indices.map(c => s"($c, [${cs(c).mkString(", ")}]::DOUBLE[])").mkString(",\n")
  }

  /** One Lloyd's step in SQL: assign every vector to its argmax-dot cell of
    * `prevCte`, then rebuild each cell as the per-dimension ROUND(avg, 6)
    * of its members — an empty cell keeps its previous position (the LEFT
    * JOIN's COALESCE). Identical update rule to
    * `TrainingOps.trainIvfCentroids`.
    */
  private def kmeansStepSql(i: Int, prevCte: String): String =
    s"""assign$i AS (
         SELECT vec_id, c FROM (
           SELECT e.vec_id, $prevCte.c,
                  row_number() OVER (PARTITION BY e.vec_id
                                     ORDER BY list_dot_product(e.emb, $prevCte.v) DESC,
                                              $prevCte.c ASC) AS rn
           FROM e, $prevCte) WHERE rn = 1
       ),
       sums$i AS (
         SELECT a.c, d.i, round(avg(e.emb[d.i]), 6) AS m
         FROM assign$i a JOIN e USING (vec_id) CROSS JOIN dims d
         GROUP BY a.c, d.i
       ),
       ct$i AS (
         SELECT p.c, list(COALESCE(s.m, p.x) ORDER BY p.i) AS v
         FROM (SELECT c, d.i, v[d.i] AS x FROM $prevCte CROSS JOIN dims d) p
         LEFT JOIN sums$i s ON s.c = p.c AND s.i = p.i
         GROUP BY p.c
       )"""

  private lazy val annIvfTrainedOracleSql: String = {
    s"""WITH ct0(c, v) AS (VALUES $centroidValuesSql),
       e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       dims AS (SELECT unnest(generate_series(1, 64)) AS i),
       ${kmeansStepSql(1, "ct0")},
       ${kmeansStepSql(2, "ct1")},
       score AS (
         SELECT e.vec_id, ct2.c, list_dot_product(e.emb, ct2.v) AS s FROM e, ct2
       ),
       assign AS (
         SELECT vec_id, c FROM (
           SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id
                                                ORDER BY s DESC, c ASC) AS rn
           FROM score) WHERE rn = 1
       ),
       probe AS (
         SELECT vec_id AS query_id, c FROM (
           SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id
                                                ORDER BY s DESC, c ASC) AS rn
           FROM score WHERE vec_id < 10) WHERE rn <= 4
       ),
       cand AS (
         SELECT p.query_id, a.vec_id
         FROM probe p JOIN assign a USING (c)
         WHERE a.vec_id != p.query_id
       ),
       scored AS (
         SELECT cand.query_id, cand.vec_id,
                list_dot_product(qe.emb, ce.emb) /
                  sqrt(list_dot_product(qe.emb, qe.emb) * list_dot_product(ce.emb, ce.emb)) AS cos
         FROM cand
         JOIN e qe ON qe.vec_id = cand.query_id
         JOIN e ce ON ce.vec_id = cand.vec_id
       ),
       ranked AS (
         SELECT query_id, vec_id,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, vec_id ASC) AS rank
         FROM scored
       )
       SELECT query_id, CAST(rank AS INT) AS rank, vec_id
       FROM ranked WHERE rank <= 10 ORDER BY 1, 2"""
  }

  private lazy val annIvfOracleSql: String = {
    s"""WITH ct(c, v) AS (VALUES $centroidValuesSql),
       e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       score AS (
         SELECT e.vec_id, ct.c, list_dot_product(e.emb, ct.v) AS s FROM e, ct
       ),
       assign AS (
         SELECT vec_id, c FROM (
           SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id
                                                ORDER BY s DESC, c ASC) AS rn
           FROM score) WHERE rn = 1
       ),
       probe AS (
         SELECT vec_id AS query_id, c FROM (
           SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id
                                                ORDER BY s DESC, c ASC) AS rn
           FROM score WHERE vec_id < 10) WHERE rn <= 4
       ),
       cand AS (
         SELECT p.query_id, a.vec_id
         FROM probe p JOIN assign a USING (c)
         WHERE a.vec_id != p.query_id
       ),
       scored AS (
         SELECT cand.query_id, cand.vec_id,
                list_dot_product(qe.emb, ce.emb) /
                  sqrt(list_dot_product(qe.emb, qe.emb) * list_dot_product(ce.emb, ce.emb)) AS cos
         FROM cand
         JOIN e qe ON qe.vec_id = cand.query_id
         JOIN e ce ON ce.vec_id = cand.vec_id
       ),
       ranked AS (
         SELECT query_id, vec_id,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, vec_id ASC) AS rank
         FROM scored
       )
       SELECT query_id, CAST(rank AS INT) AS rank, vec_id
       FROM ranked WHERE rank <= 10 ORDER BY 1, 2"""
  }

  /** Expected CANONICAL triples of the synthesized corpus as a SQL CTE —
    * page content is a pure function of doc_id (SynthPages), so the whole
    * extract→merge→extrapolate→fix pipeline is reconstructible relationally,
    * per manifest flavor (doc_id % 8):
    *   all:      Name, Summary (dot stripped by fix), Description (README
    *             plain pipeline appends a newline)
    *   0-3,5-7:  License MIT (debian flavor 4 has none)
    *   not 6:    Repository (.git canonical), Repository-Browse,
    *             Bug-Database/-Submit (extrapolated from Repository);
    *             setup.py's non-forge url yields Homepage only
    *   1:        Cargo-Crate          2: Documentation + gitlab repo
    *   3,7:      Homepage = forge browse URL (hpack github key /
    *             extrapolation from Repository-Browse)
    *   4:        Debian-ITP (changelog), control Description, no Version loss
    *   5:        no Version (the reference's cabal provider emits none)
    */
  private val canonicalCte: String =
    """d AS (
         SELECT doc_id, text,
           'https://replay.invalid/proj'||doc_id||'/' AS subj,
           doc_id % 8 AS flavor,
           CASE WHEN doc_id % 8 = 2
             THEN 'https://gitlab.com/org'||(doc_id%97)||'/proj'||doc_id
             ELSE 'https://github.com/org'||(doc_id%97)||'/proj'||doc_id END AS repo
         FROM documents
       ),
       expected AS (
         SELECT subj, doc_id, flavor, 'Author' AS pred,
           'Dev '||doc_id||' <dev'||doc_id||'@example.com>' AS obj FROM d WHERE flavor = 0
         UNION ALL SELECT subj, doc_id, flavor, 'Bug-Database', repo||'/issues'
           FROM d WHERE flavor != 6
         UNION ALL SELECT subj, doc_id, flavor, 'Bug-Submit', repo||'/issues/new'
           FROM d WHERE flavor != 6
         UNION ALL SELECT subj, doc_id, flavor, 'Cargo-Crate', 'proj'||doc_id
           FROM d WHERE flavor = 1
         UNION ALL SELECT subj, doc_id, flavor, 'Debian-ITP', '9'||doc_id
           FROM d WHERE flavor = 4
         UNION ALL SELECT subj, doc_id, flavor, 'Description',
           CASE WHEN flavor = 4 THEN 'Frobnicates widget number '||doc_id||'.'
                ELSE text||chr(10) END FROM d
         UNION ALL SELECT subj, doc_id, flavor, 'Documentation',
           'https://docs.example.com/proj'||doc_id FROM d WHERE flavor = 2
         UNION ALL SELECT subj, doc_id, flavor, 'Homepage',
           CASE WHEN flavor IN (3, 7) THEN repo
                ELSE 'https://proj'||doc_id||'.example.com/' END FROM d
         UNION ALL SELECT subj, doc_id, flavor, 'License', 'MIT' FROM d WHERE flavor != 4
         UNION ALL SELECT subj, doc_id, flavor, 'Name', 'proj'||doc_id FROM d
         UNION ALL SELECT subj, doc_id, flavor, 'Repository', repo||'.git'
           FROM d WHERE flavor != 6
         UNION ALL SELECT subj, doc_id, flavor, 'Repository-Browse', repo
           FROM d WHERE flavor != 6
         UNION ALL SELECT subj, doc_id, flavor, 'Summary', 'Tool number '||doc_id FROM d
         UNION ALL SELECT subj, doc_id, flavor, 'Version', '1.'||(doc_id%10)||'.0'
           FROM d WHERE flavor != 5
       )"""

  /** Expected RAW (pre-merge) triples: every guesser's datums with their
    * certainties before the lattice merge — manifest fields at their native
    * certainty, the README Description at possible, the path-derived Name at
    * possible, debian sibling-file datums at the control/changelog levels.
    * Summary keeps its trailing dot (fix_upstream runs post-merge only).
    */
  private val rawCte: String =
    """d AS (
         SELECT doc_id, text,
           'https://replay.invalid/proj'||doc_id||'/' AS subj,
           doc_id % 8 AS flavor,
           'https://github.com/org'||(doc_id%97)||'/proj'||doc_id AS gh,
           'https://gitlab.com/org'||(doc_id%97)||'/proj'||doc_id AS gl
         FROM documents
       ),
       raw AS (
         SELECT subj, 'Author' AS pred,
                'Dev '||doc_id||' <dev'||doc_id||'@example.com>' AS obj,
                2 AS certainty FROM d WHERE flavor = 0
         UNION ALL SELECT subj, 'Name', 'proj'||doc_id,
                CASE WHEN flavor = 4 THEN 2 ELSE 3 END FROM d
         UNION ALL SELECT subj, 'Name', 'proj'||doc_id, 0 FROM d
         UNION ALL SELECT subj, 'Version', '1.'||(doc_id%10)||'.0',
                CASE WHEN flavor = 4 THEN 2 ELSE 3 END FROM d WHERE flavor != 5
         UNION ALL SELECT subj, 'Summary', 'Tool number '||doc_id||'.',
                CASE WHEN flavor IN (3, 4) THEN 2 ELSE 3 END FROM d
         UNION ALL SELECT subj, 'License', 'MIT', 3 FROM d WHERE flavor != 4
         UNION ALL SELECT subj, 'Homepage', 'https://proj'||doc_id||'.example.com/',
                CASE WHEN flavor = 6 THEN 1 ELSE 3 END FROM d WHERE flavor NOT IN (3, 7)
         UNION ALL SELECT subj, 'Repository',
                CASE WHEN flavor = 2 THEN gl
                     WHEN flavor IN (4, 5, 7) THEN gh||'.git'
                     ELSE gh END,
                CASE WHEN flavor = 4 THEN 2 ELSE 3 END FROM d WHERE flavor != 6
         UNION ALL SELECT subj, 'Cargo-Crate', 'proj'||doc_id, 3 FROM d WHERE flavor = 1
         UNION ALL SELECT subj, 'Documentation', 'https://docs.example.com/proj'||doc_id, 3
           FROM d WHERE flavor = 2
         UNION ALL SELECT subj, 'Debian-ITP', '9'||doc_id, 3 FROM d WHERE flavor = 4
         UNION ALL SELECT subj, 'Description', text||chr(10), 0 FROM d
         UNION ALL SELECT subj, 'Description', 'Frobnicates widget number '||doc_id||'.', 2
           FROM d WHERE flavor = 4
         UNION ALL SELECT subj, 'Bug-Database', gh||'/issues', 3 FROM d WHERE flavor IN (5, 7)
       )"""

  /** DuckDB oracles. The synthesized page content is a pure function of
    * doc_id, so even the full KG pipeline has an exact relational oracle.
    */
  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_centi,
         CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_price_centi,
         count(*) AS n
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",
    "q2_join_broadcast" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY 1""",
    "q3_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",
    "q4_star_join" ->
      """SELECT r_name, count(*) AS n_items,
         CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_centi
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1 ORDER BY 1""",
    "q5_events_daily" ->
      """SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS n,
         CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS total_value_centi
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q5_window_form" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
         count(*) AS n,
         CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS total_value_centi
         FROM events GROUP BY 1, 2 ORDER BY 2, 1""",
    "q6_sessions" ->
      """WITH ev AS (
           SELECT user_id, event_id, epoch_us(ts) // 1000000 AS tsec FROM events
         ), gaps AS (
           SELECT user_id,
                  tsec - lag(tsec) OVER (PARTITION BY user_id ORDER BY tsec, event_id) AS gap
           FROM ev
         )
         SELECT user_id, count(*) AS n_events,
                CAST(sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
         FROM gaps GROUP BY 1 ORDER BY 1""",
    "q7_window_top_order" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
           FROM orders) WHERE rn = 1 ORDER BY o_custkey""",
    "q8_anti_join" ->
      """SELECT p_partkey, p_name FROM part
         WHERE p_partkey NOT IN
           (SELECT l_partkey FROM lineitem WHERE l_discount > 0.09)
         ORDER BY p_partkey""",
    "q9_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders)
         GROUP BY 1 ORDER BY 1""",
    "q10_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
         CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_centi
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "q11_set_ops" ->
      """WITH wo AS (SELECT DISTINCT o_custkey AS custkey FROM orders),
            hb AS (SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000)
         SELECT custkey, 'both' AS leg FROM (SELECT custkey FROM wo INTERSECT SELECT custkey FROM hb)
         UNION ALL
         SELECT custkey, 'only_orders' AS leg FROM (SELECT custkey FROM wo EXCEPT ALL SELECT custkey FROM hb)
         ORDER BY leg, custkey""",
    "q12_json" ->
      """SELECT event_type, count(*) AS n,
         CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k
         FROM events GROUP BY 1 ORDER BY 1""",
    "doc_token_stats" ->
      """SELECT lang, count(*) AS n_docs,
         CAST(sum(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT) AS total_tokens,
         CAST(sum(length(list_distinct(string_split(text, ' ')))) AS BIGINT) AS total_distinct,
         CAST(sum(length(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))) AS BIGINT)
           AS total_subwords
         FROM documents GROUP BY 1 ORDER BY 1""",
    "doc_quality" ->
      """SELECT doc_id, length(text) AS n_chars_actual,
         length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens,
         length(list_distinct(string_split(text, ' '))) AS n_distinct,
         length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS n_punct,
         ((length(text) - (length(text) - length(replace(text, ' ', '')))) * 100)
           // (length(text) - length(replace(text, ' ', '')) + 1) AS mean_token_centilen,
         n_chars = length(text) AS chars_consistent
         FROM documents ORDER BY doc_id""",
    "doc_langid" ->
      """SELECT doc_id, lang AS declared_lang,
         CAST(((length(' '||text||' ') - length(replace(' '||text||' ', ' the ', ' '))) // 4
             + (length(' '||text||' ') - length(replace(' '||text||' ', ' a ', ' '))) // 2)
             * 1000 // (length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT)
           AS stopword_permille,
         (((length(' '||text||' ') - length(replace(' '||text||' ', ' the ', ' '))) // 4
             + (length(' '||text||' ') - length(replace(' '||text||' ', ' a ', ' '))) // 2)
             * 1000 // (length(text) - length(replace(text, ' ', '')) + 1)) >= 40
           AS looks_english
         FROM documents ORDER BY doc_id""",
    "doc_fingerprint" ->
      """SELECT doc_id, md5(text) AS content_hash,
         substring(md5(text), 1, 16) AS short_id
         FROM documents ORDER BY doc_id""",
    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, count(*) AS n_docs, min(doc_id) AS keep_id
         FROM documents GROUP BY 1 ORDER BY 1""",
    "dedup_minhash" ->
      """WITH all_docs AS (
           SELECT doc_id*2 AS doc_id, md5(text) AS h FROM documents
           UNION ALL
           SELECT doc_id*2+1, md5(text) FROM documents
         )
         SELECT l.doc_id AS a, r.doc_id AS b
         FROM all_docs l JOIN all_docs r ON l.h = r.h AND l.doc_id < r.doc_id
         ORDER BY 1, 2""",
    "dedup_ngram" ->
      // identical word-3-gram shingle sets over the doubled corpus
      """WITH all_docs AS (
           SELECT doc_id*2 AS doc_id, text FROM documents
           UNION ALL
           SELECT doc_id*2+1, text FROM documents
         ),
         s AS (
           SELECT doc_id,
             CASE WHEN length(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_sort(list_distinct(list_transform(
                         range(length(string_split(text, ' ')) - 2),
                         i -> string_split(text, ' ')[CAST(i+1 AS INT)]||' '
                           ||string_split(text, ' ')[CAST(i+2 AS INT)]||' '
                           ||string_split(text, ' ')[CAST(i+3 AS INT)])))
             END AS sh
           FROM all_docs
         )
         SELECT l.doc_id AS a, r.doc_id AS b, CAST(1.0 AS DOUBLE) AS jaccard
         FROM s l JOIN s r ON l.sh = r.sh AND l.doc_id < r.doc_id
         ORDER BY 1, 2""",
    "dedup_simhash" ->
      // full SimHash replication (word hash = first 8 md5 bytes, 64-bit
      // majority vote) — at maxDist=0 pairs are exactly simhash equality,
      // which includes word-order permutations, not just identical text
      """WITH all_docs AS (
           SELECT doc_id*2 AS doc_id, text FROM documents
           UNION ALL
           SELECT doc_id*2+1, text FROM documents
         ),
         words AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM all_docs
         ),
         hashed AS (
           SELECT doc_id,
                  CAST(concat('0x', substring(md5(w), 1, 16)) AS UBIGINT) AS h
           FROM words
         ),
         bits AS (
           SELECT doc_id, i,
                  sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS acc
           FROM hashed, (SELECT unnest(range(64)) AS i) b
           GROUP BY 1, 2
         ),
         sim AS (
           SELECT doc_id,
                  sum(CASE WHEN acc > 0 THEN CAST(1 AS HUGEINT) << i ELSE 0 END) AS sh
           FROM bits GROUP BY 1
         )
         SELECT l.doc_id AS a, r.doc_id AS b, CAST(0 AS INT) AS dist
         FROM sim l JOIN sim r ON l.sh = r.sh AND l.doc_id < r.doc_id
         ORDER BY 1, 2""",
    "dedup_pipeline" ->
      // the NAIVE all-pairs semantics (identical word-3-gram shingle sets at
      // threshold 1.0) over the flooded corpus, aggregated per left
      // endpoint — the composed exact-first pipeline must reproduce it
      // exactly. The shingle SET joins on its md5 fingerprint (set equality
      // ⟺ sorted-distinct-list string equality) so the 10k-row flood side
      // hash-joins on a scalar key.
      """WITH all_docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT 1000000 + f.i, d.text
           FROM documents d, (SELECT unnest(range(10000)) AS i) f
           WHERE d.doc_id = 0
         ),
         s AS (
           SELECT doc_id,
             md5(CAST(CASE WHEN length(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_sort(list_distinct(list_transform(
                         range(length(string_split(text, ' ')) - 2),
                         i -> string_split(text, ' ')[CAST(i+1 AS INT)]||' '
                           ||string_split(text, ' ')[CAST(i+2 AS INT)]||' '
                           ||string_split(text, ' ')[CAST(i+3 AS INT)])))
             END AS VARCHAR)) AS shk
           FROM all_docs
         ),
         pairs AS (
           SELECT l.doc_id AS a, r.doc_id AS b
           FROM s l JOIN s r ON l.shk = r.shk AND l.doc_id < r.doc_id
         )
         SELECT a, count(*) AS n_partners, CAST(sum(b) AS BIGINT) AS sum_b,
                CAST(count(*) AS DOUBLE) AS sum_jaccard
         FROM pairs GROUP BY a ORDER BY a""",
    "multimodal_decode" ->
      // rebuilds the synthetic BMP byte-for-byte as lowercase hex: 14-byte
      // file header + 40-byte BITMAPINFOHEADER + zeroed 24bpp pixel rows
      """WITH p AS (
           SELECT doc_id, 1 + doc_id % 16 AS w, 1 + doc_id % 12 AS h
           FROM documents
         ),
         q AS (
           SELECT doc_id, w, h, ((24*w + 31) // 32) * 4 * h AS isize FROM p
         ),
         hexes AS (
           SELECT doc_id, w, h, isize,
             '424d'
             || printf('%02x%02x0000', (54+isize)%256, (54+isize)//256)
             || '00000000' || '36000000' || '28000000'
             || printf('%02x000000', w) || printf('%02x000000', h)
             || '0100' || '1800' || '00000000'
             || printf('%02x%02x0000', isize%256, isize//256)
             || repeat('00', 16)
             || repeat('00', CAST(isize AS INT)) AS hex
           FROM q
         )
         SELECT doc_id, CAST(54 + isize AS INT) AS n_bytes,
                CAST(w AS INT) AS width, CAST(h AS INT) AS height,
                md5(hex) AS checksum
         FROM hexes ORDER BY doc_id""",
    "multimodal_resize" ->
      // nearest-neighbor ÷2 of an all-black w×h image: ceil-halved dims,
      // packed RGB (3·w'·h' bytes), still all-black pixels — plus four
      // literal NON-black vectors whose expected fingerprints were
      // precomputed with an INDEPENDENT (python) implementation of the
      // resample spec, pinning the real pixel walk (bottom-up rows, 4-byte
      // padding, top-left-of-2×2 sampling)
      """WITH p AS (
           SELECT doc_id,
                  (1 + doc_id % 16 + 1) // 2 AS w2,
                  (1 + doc_id % 12 + 1) // 2 AS h2
           FROM documents
         )
         SELECT doc_id, CAST(w2 AS INT) AS width, CAST(h2 AS INT) AS height,
                CAST(3*w2*h2 AS INT) AS n_pixel_bytes,
                md5(repeat('00', CAST(3*w2*h2 AS INT))) AS pixel_md5
         FROM p
         UNION ALL
         SELECT * FROM (VALUES
           (9000101, 3, 2, 18, '9cc5066ccdc60155acba13c3ac3647e8'),
           (9000202, 1, 1, 3,  'd594a8c1fba2e7ddddabc879494fe180'),
           (9000303, 8, 5, 120, 'de5f80582e10e865bf99d478d3bfa579'),
           (9000404, 4, 2, 24, '1330063246487271c3cb343eb80bf3e9'))
           v(doc_id, width, height, n_pixel_bytes, pixel_md5)
         ORDER BY doc_id""",
    "multimodal_frames" ->
      // 1+id%6 frames per clip, every 2nd sampled; frame i's dims follow
      // the variable-size formulas (1+(id+3i)%16) × (1+(id+5i)%12)
      """SELECT d.doc_id, CAST(f.i AS INT) AS frame_idx,
                CAST(1 + (d.doc_id + 3*f.i) % 16 AS INT) AS width,
                CAST(1 + (d.doc_id + 5*f.i) % 12 AS INT) AS height
         FROM documents d,
              LATERAL (SELECT unnest(generate_series(0,
                         CAST(d.doc_id % 6 AS INT), 2)) AS i) f
         ORDER BY d.doc_id, frame_idx""",
    "kg_canonical" ->
      s"""WITH $canonicalCte
         SELECT subj, pred, obj FROM expected ORDER BY subj, pred""",
    "kg_canonical_pre" ->
      s"""WITH $canonicalCte
         SELECT subj, pred, obj FROM expected ORDER BY subj, pred""",
    "kg_canonical_stored" ->
      s"""WITH $canonicalCte
         SELECT subj, pred, obj FROM expected ORDER BY subj, pred""",
    "kg_canonical_dup" ->
      // newest capture wins; stale recrawls and same-ts duplicates are inert
      s"""WITH $canonicalCte
         SELECT subj, pred, obj FROM expected ORDER BY subj, pred""",
    "kg_incremental" ->
      // incremental == full rebuild: after the delta folds in, every winner
      // is the live capture, so the store-maintained table must equal the
      // one-shot canonical extraction exactly
      s"""WITH $canonicalCte
         SELECT subj, pred, obj FROM expected ORDER BY subj, pred""",
    "kg_incremental_log" ->
      // the merge-on-read view after two appended batches converges to the
      // same live corpus — identical closed form
      s"""WITH $canonicalCte
         SELECT subj, pred, obj FROM expected ORDER BY subj, pred""",
    "kg_incremental_compact" ->
      // compaction preserves the view — same live-corpus closed form
      s"""WITH $canonicalCte
         SELECT subj, pred, obj FROM expected ORDER BY subj, pred""",
    "kg_incremental_stats" ->
      // batch 1 = every capture of the %10∈{0,5} subjects replaced and
      // changed + their full expected triple sets; batch 2 = the %10==2
      // ts refresh (replaced, nothing changed/re-extracted)
      s"""WITH $canonicalCte,
         f AS (SELECT doc_id, doc_id % 10 AS m,
                 2 + CASE WHEN doc_id % 8 = 4 THEN 3 ELSE 0 END AS files
               FROM d),
         e AS (SELECT f.doc_id, f.m, cnt.n FROM f
               JOIN (SELECT doc_id, count(*) AS n FROM expected GROUP BY 1) cnt
                 ON cnt.doc_id = f.doc_id)
         SELECT CAST(1 AS INT) AS batch,
           CAST((SELECT sum(files) FROM f WHERE m IN (0, 5)) AS BIGINT)
             AS replaced_captures,
           CAST((SELECT sum(files) FROM f WHERE m IN (0, 5)) AS BIGINT)
             AS changed_captures,
           CAST((SELECT count(*) FROM f WHERE m IN (0, 5)) AS BIGINT)
             AS changed_subjects,
           CAST((SELECT sum(n) FROM e WHERE m IN (0, 5)) AS BIGINT)
             AS appended_triples
         UNION ALL
         SELECT CAST(2 AS INT),
           CAST((SELECT sum(files) FROM f WHERE m = 2) AS BIGINT),
           CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
         ORDER BY batch""",
    "kg_edges" ->
      s"""WITH $canonicalCte
         SELECT subj AS src, pred, obj AS dst FROM expected
         WHERE pred IN ('Bug-Database', 'Bug-Submit', 'Documentation',
                        'Homepage', 'Repository', 'Repository-Browse')
         ORDER BY src, pred""",
    "kg_nodes" ->
      s"""WITH $canonicalCte,
         e AS (
           SELECT subj AS src, obj AS dst FROM expected
           WHERE pred IN ('Bug-Database', 'Bug-Submit', 'Documentation',
                          'Homepage', 'Repository', 'Repository-Browse')
         ),
         n AS (
           SELECT DISTINCT src AS id, 'subject' AS kind FROM e
           UNION ALL
           SELECT DISTINCT dst AS id, 'url' AS kind FROM e
         )
         SELECT id, min(kind) AS kind FROM n GROUP BY id ORDER BY id""",
    "kg_raw_triples" ->
      s"""WITH $rawCte
         SELECT subj, pred, obj, certainty FROM raw
         ORDER BY subj, pred, certainty""",
    "kg_canonicalize_agg" ->
      // lattice argmax over the raw stream: per (subj,pred) highest certainty
      // wins — manifest beats README/path datums; no extrapolation, no fixes
      s"""WITH $rawCte,
         best AS (
           SELECT subj, pred, obj, certainty,
                  row_number() OVER (PARTITION BY subj, pred
                                     ORDER BY certainty DESC) AS rn
           FROM raw
         )
         SELECT subj, pred, obj, certainty FROM best WHERE rn = 1
         ORDER BY subj, pred""",
    "kg_yaml_sink" ->
      // replicates Sinks.toYaml over the canonical triples: plain scalars,
      // block-literal for the newline-terminated Description, quoted ints
      s"""WITH $canonicalCte,
         rendered AS (
           SELECT subj, pred,
             CASE
               WHEN pred = 'Author'
                 THEN 'Author:'||chr(10)||'- !Person'||chr(10)
                   ||'    name: Dev '||doc_id||chr(10)
                   ||'    email: dev'||doc_id||'@example.com'||chr(10)
               WHEN pred = 'Description' AND flavor != 4
                 THEN 'Description: |'||chr(10)||'  '||rtrim(obj, chr(10))||chr(10)
               WHEN pred = 'Debian-ITP'
                 THEN 'Debian-ITP: '||obj||chr(10)
               ELSE pred||': '||obj||chr(10)
             END AS line
           FROM expected
         )
         SELECT subj, string_agg(line, '' ORDER BY pred) AS yaml
         FROM rendered GROUP BY subj ORDER BY subj""",
    "kg_codemeta_sink" ->
      // replicates Sinks.toCodemeta (Jackson pretty printer field order)
      s"""WITH $canonicalCte,
         m AS (
           SELECT subj, max(flavor) AS flavor, max(doc_id) AS doc_id,
             max(CASE WHEN pred='Name' THEN obj END) AS name,
             max(CASE WHEN pred='Version' THEN obj END) AS version,
             max(CASE WHEN pred='Summary' THEN obj END) AS summary,
             max(CASE WHEN pred='Homepage' THEN obj END) AS homepage,
             max(CASE WHEN pred='Repository' THEN obj END) AS repo,
             max(CASE WHEN pred='Bug-Database' THEN obj END) AS bugdb,
             max(CASE WHEN pred='License' THEN obj END) AS license
           FROM expected GROUP BY subj
         )
         SELECT subj,
           '{'||chr(10)
           ||'  "@context" : "https://doi.org/10.5063/schema/codemeta-2.0",'||chr(10)
           ||'  "@type" : "SoftwareSourceCode"'
           ||coalesce(','||chr(10)||'  "name" : "'||name||'"', '')
           ||coalesce(','||chr(10)||'  "version" : "'||version||'"', '')
           ||coalesce(','||chr(10)||'  "description" : "'||summary||'"', '')
           ||coalesce(','||chr(10)||'  "url" : "'||homepage||'"', '')
           ||coalesce(','||chr(10)||'  "codeRepository" : "'||repo||'"', '')
           ||coalesce(','||chr(10)||'  "issueTracker" : "'||bugdb||'"', '')
           ||coalesce(','||chr(10)||'  "license" : "'||license||'"', '')
           ||CASE WHEN flavor = 0 THEN
               ','||chr(10)||'  "author" : [ {'||chr(10)
               ||'    "@type" : "Person",'||chr(10)
               ||'    "name" : "Dev '||doc_id||'",'||chr(10)
               ||'    "email" : "dev'||doc_id||'@example.com"'||chr(10)
               ||'  } ]'
             ELSE '' END
           ||chr(10)||'}' AS codemeta
         FROM m ORDER BY subj""",
    "kg_linking_fuzzy" ->
      """WITH vocab AS (
           SELECT DISTINCT unnest(string_split(text, ' ')) AS term FROM documents
         ),
         r(alias, entity_id) AS (VALUES
           ('sparky', 'ent_spark'), ('streams', 'ent_stream'),
           ('filters', 'ent_filter'), ('windowed', 'ent_window'),
           ('merge', 'ent_merge'), ('zzznomatch', 'ent_none')),
         tg AS (
           SELECT term, list_distinct(list_transform(range(length(term) - 2),
                    i -> substr(term, CAST(i + 1 AS INT), 3))) AS gs
           FROM vocab WHERE length(term) >= 3
         ),
         ag AS (
           SELECT alias, entity_id,
                  list_distinct(list_transform(range(length(alias) - 2),
                    i -> substr(alias, CAST(i + 1 AS INT), 3))) AS gs
           FROM r WHERE length(alias) >= 3
         )
         SELECT term, entity_id,
                CAST(length(list_intersect(tg.gs, ag.gs)) AS DOUBLE)
                  / length(list_distinct(list_concat(tg.gs, ag.gs))) AS jaccard
         FROM tg, ag
         WHERE length(list_intersect(tg.gs, ag.gs)) > 0
           AND CAST(length(list_intersect(tg.gs, ag.gs)) AS DOUBLE)
                 / length(list_distinct(list_concat(tg.gs, ag.gs))) >= 0.5
         ORDER BY term, entity_id""",
    "kg_enrich_gated" ->
      // Version survives at its extracted certainty everywhere except the
      // cabal flavor (5), where the registry's Likely value fills the gap
      """SELECT 'https://replay.invalid/proj'||doc_id||'/' AS subj,
         CASE WHEN doc_id % 8 = 5 THEN '9.9.9'
              ELSE '1.'||(doc_id%10)||'.0' END AS obj,
         CASE WHEN doc_id % 8 = 5 THEN 1
              WHEN doc_id % 8 = 4 THEN 2 ELSE 3 END AS certainty
         FROM documents ORDER BY subj""",
    "kg_registry_payloads" ->
      // each registry dialect's parse reconstructed relationally: kind =
      // doc_id % 5 (pypi, npm, crates, cpan, rubygems); npm datums carry no
      // certainty (-1), the rest are Certain (3); list payloads (Keywords)
      // have an empty scalar obj
      """WITH d AS (
           SELECT doc_id AS n, 'reg:proj'||doc_id AS subj, doc_id % 5 AS kind,
             '1.'||(doc_id%10)||'.0' AS v,
             'https://github.com/org'||(doc_id%97)||'/proj'||doc_id AS gh,
             'https://proj'||doc_id||'.example.com/' AS hp
           FROM documents
         ),
         triples AS (
           -- pypi (kind 0)
           SELECT subj, 'Author' AS pred,
                  'Dev '||n||' <dev'||n||'@example.com>' AS obj, 3 AS certainty
             FROM d WHERE kind = 0
           UNION ALL SELECT subj, 'Bug-Database', gh||'/issues', 3 FROM d WHERE kind = 0
           UNION ALL SELECT subj, 'Description', 'Desc '||n, 3 FROM d WHERE kind = 0
           UNION ALL SELECT subj, 'Download',
             'https://files.example.com/proj'||n||'.tar.gz', 3 FROM d WHERE kind = 0
           UNION ALL SELECT subj, 'Homepage', hp, 3 FROM d WHERE kind = 0
           UNION ALL SELECT subj, 'Keywords', '', 3 FROM d WHERE kind = 0
           UNION ALL SELECT subj, 'License', 'MIT', 3 FROM d WHERE kind = 0
           UNION ALL SELECT subj, 'Name', 'proj'||n, 3 FROM d WHERE kind = 0
           UNION ALL SELECT subj, 'Repository', gh, 3 FROM d WHERE kind = 0
           UNION ALL SELECT subj, 'Summary', 'Tool number '||n||'.', 3 FROM d WHERE kind = 0
           UNION ALL SELECT subj, 'Version', v, 3 FROM d WHERE kind = 0
           -- npm (kind 1): certainty None → -1
           UNION ALL SELECT subj, 'Author',
             'Dev '||n||' <dev'||n||'@example.com>', -1 FROM d WHERE kind = 1
           UNION ALL SELECT subj, 'Bug-Database', gh||'/issues', -1 FROM d WHERE kind = 1
           UNION ALL SELECT subj, 'Description', 'left pad '||n, -1 FROM d WHERE kind = 1
           UNION ALL SELECT subj, 'Download',
             'https://registry.example.com/proj'||n||'.tgz', -1 FROM d WHERE kind = 1
           UNION ALL SELECT subj, 'Homepage', hp, -1 FROM d WHERE kind = 1
           UNION ALL SELECT subj, 'Keywords', '', -1 FROM d WHERE kind = 1
           UNION ALL SELECT subj, 'License', 'MIT', -1 FROM d WHERE kind = 1
           UNION ALL SELECT subj, 'Name', 'proj'||n, -1 FROM d WHERE kind = 1
           UNION ALL SELECT subj, 'Repository', 'git+'||gh||'.git', -1 FROM d WHERE kind = 1
           UNION ALL SELECT subj, 'Version', v, -1 FROM d WHERE kind = 1
           -- crates (kind 2)
           UNION ALL SELECT subj, 'Homepage', hp, 3 FROM d WHERE kind = 2
           UNION ALL SELECT subj, 'License', 'MIT', 3 FROM d WHERE kind = 2
           UNION ALL SELECT subj, 'Name', 'proj'||n, 3 FROM d WHERE kind = 2
           UNION ALL SELECT subj, 'Repository', gh, 3 FROM d WHERE kind = 2
           UNION ALL SELECT subj, 'Summary', 'Tool number '||n||'.', 3 FROM d WHERE kind = 2
           UNION ALL SELECT subj, 'Version', v, 3 FROM d WHERE kind = 2
           -- cpan (kind 3)
           UNION ALL SELECT subj, 'Author', 'DEV'||n, 3 FROM d WHERE kind = 3
           UNION ALL SELECT subj, 'Download',
             'https://cpan.example.com/proj'||n||'.tar.gz', 3 FROM d WHERE kind = 3
           UNION ALL SELECT subj, 'Homepage',
             'https://cpan.example.com/proj'||n||'.tar.gz', 3 FROM d WHERE kind = 3
           UNION ALL SELECT subj, 'Name', 'proj'||n, 3 FROM d WHERE kind = 3
           UNION ALL SELECT subj, 'Version', v, 3 FROM d WHERE kind = 3
           -- rubygems (kind 4)
           UNION ALL SELECT subj, 'Author', 'Dev '||n, 3 FROM d WHERE kind = 4
           UNION ALL SELECT subj, 'Bug-Database', gh||'/issues', 3 FROM d WHERE kind = 4
           UNION ALL SELECT subj, 'Documentation',
             'https://docs.example.com/proj'||n, 3 FROM d WHERE kind = 4
           UNION ALL SELECT subj, 'Homepage', hp, 3 FROM d WHERE kind = 4
           UNION ALL SELECT subj, 'License', 'MIT', 3 FROM d WHERE kind = 4
           UNION ALL SELECT subj, 'Name', 'proj'||n, 3 FROM d WHERE kind = 4
           UNION ALL SELECT subj, 'Repository', gh, 3 FROM d WHERE kind = 4
           UNION ALL SELECT subj, 'Version', v, 3 FROM d WHERE kind = 4
         )
         SELECT subj, pred, obj, certainty FROM triples ORDER BY subj, pred, obj""",
    "kg_enrich_registry" ->
      // identical gate to kg_enrich_gated, but the registry side is PARSED
      // from raw pypi payloads instead of handed in pre-parsed
      """SELECT 'https://replay.invalid/proj'||doc_id||'/' AS subj,
         CASE WHEN doc_id % 8 = 5 THEN '9.9.9'
              ELSE '1.'||(doc_id%10)||'.0' END AS obj,
         CASE WHEN doc_id % 8 = 5 THEN 1
              WHEN doc_id % 8 = 4 THEN 2 ELSE 3 END AS certainty
         FROM documents ORDER BY subj""",
    "kg_doap_sink" ->
      // replicates Sinks.toDoap: field-sorted children, repository block last,
      // resource-valued props as <rdf:resource rdf:resource="..."/> children
      s"""WITH $canonicalCte,
         m AS (
           SELECT subj, max(flavor) AS flavor,
             max(CASE WHEN pred='Name' THEN obj END) AS name,
             max(CASE WHEN pred='Summary' THEN obj END) AS summary,
             max(CASE WHEN pred='Description' THEN obj END) AS descr,
             max(CASE WHEN pred='Homepage' THEN obj END) AS homepage,
             max(CASE WHEN pred='Repository' THEN obj END) AS repo,
             max(CASE WHEN pred='Repository-Browse' THEN obj END) AS browse,
             max(CASE WHEN pred='Bug-Database' THEN obj END) AS bugdb
           FROM expected GROUP BY subj
         )
         SELECT subj,
           '<?xml version="1.0" encoding="UTF-8"?>'||chr(10)
           ||'<doap:Project xmlns:doap="http://usefulinc.com/ns/doap" xmlns:foaf="http://xmlns.com/foaf/0.1/" xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns">'||chr(10)
           ||coalesce('  <doap:bug-database>'||chr(10)
             ||'    <rdf:resource rdf:resource="'||bugdb||'" />'||chr(10)
             ||'  </doap:bug-database>'||chr(10), '')
           ||'  <doap:description>'||descr||'</doap:description>'||chr(10)
           ||'  <doap:homepage>'||chr(10)
             ||'    <rdf:resource rdf:resource="'||homepage||'" />'||chr(10)
             ||'  </doap:homepage>'||chr(10)
           ||'  <doap:name>'||name||'</doap:name>'||chr(10)
           ||'  <doap:shortdesc>'||summary||'</doap:shortdesc>'||chr(10)
           ||coalesce('  <doap:repository>'||chr(10)
             ||'    <doap:GitRepository>'||chr(10)
             ||'      <doap:location>'||chr(10)
             ||'        <rdf:resource rdf:resource="'||repo||'" />'||chr(10)
             ||'      </doap:location>'||chr(10)
             ||'      <doap:browse>'||chr(10)
             ||'        <rdf:resource rdf:resource="'||browse||'" />'||chr(10)
             ||'      </doap:browse>'||chr(10)
             ||'    </doap:GitRepository>'||chr(10)
             ||'  </doap:repository>'||chr(10), '')
           ||'</doap:Project>'||chr(10) AS doap
         FROM m ORDER BY subj""",
    "kg_homepage_scrape" ->
      // flavor 6 gains the scraped repo at Possible (0); the rest keep their
      // extracted Repository (gitlab for flavor 2; .git-canonicalized; the
      // debian flavor's certainty is control-file Confident)
      """SELECT 'https://replay.invalid/proj'||doc_id||'/' AS subj,
         CASE WHEN doc_id % 8 = 6
                THEN 'https://github.com/org'||(doc_id%97)||'/proj'||doc_id
              WHEN doc_id % 8 = 2
                THEN 'https://gitlab.com/org'||(doc_id%97)||'/proj'||doc_id||'.git'
              ELSE 'https://github.com/org'||(doc_id%97)||'/proj'||doc_id||'.git'
         END AS obj,
         CASE WHEN doc_id % 8 = 6 THEN 0
              WHEN doc_id % 8 = 4 THEN 2 ELSE 3 END AS certainty
         FROM documents ORDER BY subj""",
    "kg_check_promote" ->
      // flavor 0 homepages probe invalid → deleted; flavor 6 promotes
      // Likely → Certain; flavors 3/7 hold the forge browse URL at Possible
      // (unprobed); the rest stay at their extracted Certain
      """SELECT 'https://replay.invalid/proj'||doc_id||'/' AS subj,
         CASE WHEN doc_id % 8 IN (3, 7)
                THEN 'https://github.com/org'||(doc_id%97)||'/proj'||doc_id
              ELSE 'https://proj'||doc_id||'.example.com/' END AS obj,
         CASE WHEN doc_id % 8 IN (3, 7) THEN 0 ELSE 3 END AS certainty
         FROM documents WHERE doc_id % 8 != 0 ORDER BY subj""",
    "kg_extend_sf" ->
      // every subject gains the SF Download at Likely → derives Archive +
      // SourceForge-Project at min(Likely, Likely) = Likely
      """SELECT subj, pred, obj, certainty FROM (
           SELECT 'https://replay.invalid/proj'||doc_id||'/' AS subj,
                  'Archive' AS pred, 'SourceForge' AS obj, 1 AS certainty
           FROM documents
           UNION ALL
           SELECT 'https://replay.invalid/proj'||doc_id||'/',
                  'SourceForge-Project', 'proj'||doc_id, 1
           FROM documents
         ) ORDER BY subj, pred""",
    "kg_check_browse_sync" ->
      // flavor 2 repositories probe invalid → deleted (browse survives);
      // flavor 4 promotes Confident→Certain and syncs its browse 2→3 (both
      // columns would read 2 without the promotion/sync rules); everything
      // else was already Certain
      """WITH base AS (
           SELECT doc_id, doc_id % 8 AS flavor,
             'https://replay.invalid/proj'||doc_id||'/' AS subj,
             CASE WHEN doc_id % 8 = 2
                  THEN 'https://gitlab.com/org'||(doc_id%97)||'/proj'||doc_id
                  ELSE 'https://github.com/org'||(doc_id%97)||'/proj'||doc_id
             END AS repo
           FROM documents WHERE doc_id % 8 != 6
         ),
         out AS (
           SELECT subj, 'Repository' AS pred, repo||'.git' AS obj, 3 AS certainty
           FROM base WHERE flavor != 2
           UNION ALL
           SELECT subj, 'Repository-Browse', repo, 3 FROM base
         )
         SELECT subj, pred, obj, certainty FROM out ORDER BY subj, pred""",
    "kg_check_screenshots" ->
      // url 1 survives unless doc_id%5=0 (probed dead); url 2 never survives
      // (dead for even docs, unprobed for odd); odd docs demote to Likely
      // because an unprobed url is inconclusive
      """SELECT 'shot:proj'||doc_id AS subj,
         CASE WHEN doc_id % 5 != 0
              THEN '["https://img.example.com/p'||doc_id||'/1.png"]'
              ELSE '[]' END AS obj_json,
         CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS certainty
         FROM documents ORDER BY subj""",
    "kg_full_enrich" ->
      // composition of the three per-stage oracles: registry fills the cabal
      // flavor's Version at Likely; homepage scrape gives flavor 6 its repo
      // at Possible; probes delete flavor-0 homepages and promote flavor 6's
      """WITH base AS (
           SELECT doc_id, doc_id % 8 AS flavor,
             'https://replay.invalid/proj'||doc_id||'/' AS subj,
             CASE WHEN doc_id % 8 = 2
                  THEN 'https://gitlab.com/org'||(doc_id%97)||'/proj'||doc_id
                  ELSE 'https://github.com/org'||(doc_id%97)||'/proj'||doc_id
             END AS repo,
             'https://proj'||doc_id||'.example.com/' AS hp
           FROM documents
         ),
         out AS (
           SELECT subj, 'Homepage' AS pred,
             CASE WHEN flavor IN (3, 7) THEN repo ELSE hp END AS obj,
             CASE WHEN flavor IN (3, 7) THEN 0 ELSE 3 END AS certainty
           FROM base WHERE flavor != 0
           UNION ALL SELECT subj, 'Repository',
             CASE WHEN flavor = 6 THEN repo ELSE repo||'.git' END,
             CASE WHEN flavor = 6 THEN 0 WHEN flavor = 4 THEN 2 ELSE 3 END
           FROM base
           UNION ALL SELECT subj, 'Version',
             CASE WHEN flavor = 5 THEN '9.9.9' ELSE '1.'||(doc_id%10)||'.0' END,
             CASE WHEN flavor = 5 THEN 1 WHEN flavor = 4 THEN 2 ELSE 3 END
           FROM base
         )
         SELECT subj, pred, obj, certainty FROM out ORDER BY subj, pred""",
    "kg_enrich_extrapolate" ->
      // flavor 6's three derived rows exist ONLY through post-enrichment
      // extrapolation of its scraped Possible Repository; flavors 5/7 hold
      // manifest Bug-Database at Certain (Bug-Submit derives at the same);
      // the rest derived theirs at extract time capped at Likely; browse
      // passes the repository certainty through (Confident for debian)
      """WITH base AS (
           SELECT doc_id, doc_id % 8 AS flavor,
             'https://replay.invalid/proj'||doc_id||'/' AS subj,
             CASE WHEN doc_id % 8 = 2
                  THEN 'https://gitlab.com/org'||(doc_id%97)||'/proj'||doc_id
                  ELSE 'https://github.com/org'||(doc_id%97)||'/proj'||doc_id
             END AS repo
           FROM documents
         ),
         out AS (
           SELECT subj, 'Bug-Database' AS pred, repo||'/issues' AS obj,
             CASE WHEN flavor IN (5, 7) THEN 3
                  WHEN flavor = 6 THEN 0 ELSE 1 END AS certainty
           FROM base
           UNION ALL SELECT subj, 'Bug-Submit', repo||'/issues/new',
             CASE WHEN flavor IN (5, 7) THEN 3
                  WHEN flavor = 6 THEN 0 ELSE 1 END
           FROM base
           UNION ALL SELECT subj, 'Repository-Browse', repo,
             CASE WHEN flavor = 4 THEN 2
                  WHEN flavor = 6 THEN 0 ELSE 3 END
           FROM base
         )
         SELECT subj, pred, obj, certainty FROM out ORDER BY subj, pred""",
    "kg_enrich_author" ->
      // flavor 0 keeps its extracted Confident person; everyone else gains
      // the registry person at Likely — with the structured JSON payload
      // intact in both cases (typed obj_json threads through enrichment)
      """SELECT 'https://replay.invalid/proj'||doc_id||'/' AS subj,
         'Dev '||doc_id||' <dev'||doc_id||'@example.com>' AS obj,
         '[{"name":"Dev '||doc_id||'","email":"dev'||doc_id||'@example.com"}]'
           AS obj_json,
         CASE WHEN doc_id % 8 = 0 THEN 2 ELSE 1 END AS certainty
         FROM documents ORDER BY subj""",
    "kg_enrich_archive" ->
      // the SF payload's fields per the routing/gate/merge rules of
      // lib.rs:3555-3650: m=0 untouched (gate), m=1 keeps its Certain
      // Homepage but gains Repo/Bug-DB at Likely, m=2/3 take all three SF
      // fields at Likely (m=2's Possible homepage loses the lattice)
      """WITH d AS (
           SELECT doc_id, doc_id % 4 AS m, 'arch:proj'||doc_id AS subj
           FROM documents
         )
         SELECT subj, pred, obj, certainty FROM (
           SELECT subj, 'Homepage' AS pred,
             CASE WHEN m <= 1 THEN 'https://keep.example.com/p'||doc_id
                  ELSE 'https://proj'||doc_id||'.sf.example.com/' END AS obj,
             CASE WHEN m <= 1 THEN 3 ELSE 1 END AS certainty
           FROM d
           UNION ALL
           SELECT subj, 'Repository',
             CASE WHEN m = 0 THEN 'https://keep.example.com/r'||doc_id||'.git'
                  ELSE 'https://git.code.sf.net/p/proj'||doc_id||'/code' END,
             CASE WHEN m = 0 THEN 3 ELSE 1 END
           FROM d
           UNION ALL
           SELECT subj, 'Bug-Database',
             CASE WHEN m = 0 THEN 'https://keep.example.com/b'||doc_id
                  ELSE 'https://sourceforge.net/p/proj'||doc_id||'/bugs/' END,
             CASE WHEN m = 0 THEN 3 ELSE 1 END
           FROM d
         ) ORDER BY subj, pred""",
    "kg_enrich_external" ->
      // closed-form outcome of the external-directory dispatch
      // (lib.rs:3652-3694) per doc_id % 4: 0 routes nowhere (no Source
      // paragraph), 1 is fully gate-blocked, 2 gains Repository(AUR,
      // Possible=0) + Wiki(Launchpad, 0) + Download/License/Summary
      // (Repology, Confident=2), 3 additionally gains Homepage(Repology, 2)
      // and Name(Launchpad, 0 — first provider wins the Possible tie)
      """WITH d AS (
           SELECT doc_id AS id, doc_id % 4 AS m, 'ext:proj'||doc_id AS subj
           FROM documents
         )
         SELECT subj, pred, obj, certainty FROM (
           SELECT subj, 'Name' AS pred, 'proj'||id AS obj, 3 AS certainty
           FROM d WHERE m <> 3
           UNION ALL SELECT subj, 'Homepage',
             'https://keep.example.com/h'||id, 3 FROM d WHERE m IN (1, 2)
           UNION ALL SELECT subj, 'Repository',
             'https://keep.example.com/r'||id||'.git', 3 FROM d WHERE m = 1
           UNION ALL SELECT subj, 'Download',
             'https://keep.example.com/d'||id, 3 FROM d WHERE m = 1
           UNION ALL SELECT subj, 'License', 'KeepL', 3 FROM d WHERE m = 1
           UNION ALL SELECT subj, 'Summary',
             'Keep summary '||id, 3 FROM d WHERE m = 1
           UNION ALL SELECT subj, 'Version', 'v'||id, 3 FROM d WHERE m = 3
           UNION ALL SELECT subj, 'Repository',
             'https://aur.example.com/r'||id||'.git', 0 FROM d WHERE m IN (2, 3)
           UNION ALL SELECT subj, 'Wiki',
             'https://lp.example.com/w'||id, 0 FROM d WHERE m IN (2, 3)
           UNION ALL SELECT subj, 'Download',
             'https://repology.example.org/d'||id, 2 FROM d WHERE m IN (2, 3)
           UNION ALL SELECT subj, 'License',
             'MIT-'||(id % 3), 2 FROM d WHERE m IN (2, 3)
           UNION ALL SELECT subj, 'Summary',
             'Repology summary '||id, 2 FROM d WHERE m IN (2, 3)
           UNION ALL SELECT subj, 'Homepage',
             'https://repology.example.org/h'||id, 2 FROM d WHERE m = 3
           UNION ALL SELECT subj, 'Name', 'LpName'||id, 0 FROM d WHERE m = 3
         ) ORDER BY subj, pred""",
    "kg_lineage" ->
      // pages per project: 2 (manifest + README), debian's 5 files, plus the
      // two malformed flavor-3 artifacts (both candidates); each flavor-3
      // project yields exactly one provider error (meson) and one known-bad
      // drop (anongit.kde.org Repository)
      """SELECT
         CAST(sum(CASE WHEN doc_id % 8 = 4 THEN 5
                       WHEN doc_id % 8 = 3 THEN 4 ELSE 2 END) AS BIGINT) AS input_rows,
         CAST(sum(CASE WHEN doc_id % 8 = 4 THEN 5
                       WHEN doc_id % 8 = 3 THEN 4 ELSE 2 END) AS BIGINT) AS emitted,
         CAST(sum(CASE WHEN doc_id % 8 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS errors,
         CAST(sum(CASE WHEN doc_id % 8 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS dropped_bad
         FROM documents""",
    "kg_resume" ->
      // buckets 0-3 of 8 committed → remaining triples/subjects; the bucket
      // hash (md5 prefix mod) is engine-neutral by construction
      s"""WITH $canonicalCte,
         b AS (
           SELECT subj, pred,
                  CAST(concat('0x', substring(md5(subj), 1, 15)) AS UBIGINT) % 8
                    AS bucket
           FROM expected
         )
         SELECT count(*) AS n_triples, count(DISTINCT subj) AS n_subjects
         FROM b WHERE bucket NOT IN (0, 1, 2, 3)""",
    "kg_mentions_linking" ->
      """SELECT CAST(d.doc_id AS VARCHAR) AS subj, t.term, t.entity_id
         FROM documents d
         JOIN (VALUES ('spark','ent_spark'), ('join','ent_join'),
                      ('merge','ent_merge'), ('vector','ent_vector')) t(term, entity_id)
           ON ' '||d.text||' ' LIKE '%'||' '||t.term||' '||'%'
         ORDER BY 1, 2""",
    "kg_linking_shuffle" ->
      """SELECT CAST(d.doc_id AS VARCHAR) AS subj, t.term, t.entity_id
         FROM documents d
         JOIN (VALUES ('spark','ent_spark'), ('join','ent_join'),
                      ('merge','ent_merge'), ('vector','ent_vector')) t(term, entity_id)
           ON ' '||d.text||' ' LIKE '%'||' '||t.term||' '||'%'
         ORDER BY 1, 2""",
    // cosine below mirrors the Scala loop exactly: double element products,
    // dot / sqrt(na*nb) — list_dot_product on DOUBLE[] accumulates the same way
    "ann_brute" ->
      """WITH e AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
         ),
         scored AS (
           SELECT q.vec_id AS query_id, c.vec_id,
                  list_dot_product(q.emb, c.emb) /
                    sqrt(list_dot_product(q.emb, q.emb) * list_dot_product(c.emb, c.emb)) AS cos
           FROM e q JOIN e c ON c.vec_id != q.vec_id
           WHERE q.vec_id < 10
         ),
         ranked AS (
           SELECT query_id, vec_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, vec_id ASC) AS rank
           FROM scored
         )
         SELECT query_id, CAST(rank AS INT) AS rank, vec_id
         FROM ranked WHERE rank <= 10 ORDER BY 1, 2""",
    "ann_lsh" -> annLshOracleSql,
    "ann_ivf" -> annIvfOracleSql,
    "ann_ivf_trained" -> annIvfTrainedOracleSql,
    "dedup_embedding" ->
      s"""WITH hp(t, p, v) AS (VALUES $hyperplaneValuesSql),
         e AS (
           SELECT vec_id*2 AS vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
           UNION ALL
           SELECT vec_id*2+1, CAST(embedding AS DOUBLE[]) FROM embeddings
         ),
         sig AS (
           SELECT e.vec_id, hp.t,
                  sum(CASE WHEN list_dot_product(e.emb, hp.v) > 0
                           THEN 1 << hp.p ELSE 0 END) AS s
           FROM e, hp GROUP BY 1, 2
         ),
         cand AS (
           SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
           FROM sig l JOIN sig r ON l.t = r.t AND l.s = r.s AND l.vec_id < r.vec_id
         )
         SELECT a, b,
                list_dot_product(ea.emb, eb.emb) /
                  sqrt(list_dot_product(ea.emb, ea.emb) * list_dot_product(eb.emb, eb.emb)) AS cosine
         FROM cand
         JOIN e ea ON ea.vec_id = cand.a
         JOIN e eb ON eb.vec_id = cand.b
         WHERE list_dot_product(ea.emb, eb.emb) /
                 sqrt(list_dot_product(ea.emb, ea.emb) * list_dot_product(eb.emb, eb.emb)) >= 0.95
         ORDER BY 1, 2"""
  )
}
