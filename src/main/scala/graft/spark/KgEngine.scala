package graft.spark

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession, functions => F}
import graft.core._
import graft.pipeline.Summarize
import Model._

/** The Spark-native knowledge-graph construction engine.
  *
  * Plan shape (scale rationale):
  *
  * {{{
  * pages (url, warc_ts, html, text, lang)           -- 100 TB scan
  *  └─ filter candidateUrlCol(url)                  -- narrow Catalyst stage
  *  └─ project (subj, relpath, ts, md5, text)       -- (candidateRows): drops
  *                                                      the bulk; html and
  *                                                      non-candidate text
  *                                                      never shuffle
  *  └─ bySubject: groupBy(subj) . emit              -- SHUFFLE #1 (small):
  *        max (ts, md5) capture per relpath →        -- the one typed step
  *        extract → certainty merge → extrapolation  -- fixpoint is per-key
  *        fixpoint → URL fixes                       -- local state, no driver
  *                                                      loop, no re-shuffles
  *  └─ triples / nodes / edges / lineage sinks
  * }}}
  *
  * The one mandatory shuffle carries only candidate metadata/README files
  * (KBs per subject). The per-(subj,pred) canonicalization for already-
  * extracted triple streams is also exposed as a pure Catalyst aggregate
  * (`canonicalize`, max_by over a (certainty, arrival) struct — the lattice
  * argmax of SURVEY §2.4).
  */
object KgEngine {

  /** The reference form of the candidate rule, mirroring find_guessers'
    * candidate patterns (src/lib.rs:3083-3440): a page participates in
    * extraction iff its relpath matches one of these. The engine runs the
    * rule as `candidateUrlCol`; SubjectExprSpec checks that form against
    * this one.
    */
  def isCandidate(relpath: String): Boolean = {
    if (relpath.isEmpty) return false
    val base = relpath.substring(relpath.lastIndexOf('/') + 1)
    val lc = base.toLowerCase
    if (staticNames.contains(relpath)) return true
    if (relpath == "debian/source/format") return true // is_native context
    if (relpath.startsWith("debian/patches/") && relpath.endsWith(".patch")) return true
    if (securityNames.contains(relpath)) return true
    // egg-info / dist-info
    relpath.split('/') match {
      case Array(d, "PKG-INFO") if d.endsWith(".egg-info")  => return true
      case Array(d, "METADATA") if d.endsWith(".dist-info") => return true
      case Array(_, "DESCRIPTION")                          => return true
      case _                                                =>
    }
    if (relpath.contains('/')) return false
    if (base == "setup.py") return true
    if (base.endsWith(".gemspec") || base.endsWith(".doap") ||
        (base.endsWith(".xml") && base.startsWith("doap_XML_")) ||
        base.endsWith(".metainfo.xml") || base.endsWith(".cabal") ||
        base.endsWith(".nuspec") || base.endsWith(".opam")) return true
    if ((lc.startsWith("readme") || lc.startsWith("hacking") ||
         lc.startsWith("contributing")) && !base.endsWith("~")) {
      val dot = base.lastIndexOf('.')
      val ext = if (dot <= 0) "" else base.substring(dot + 1).toLowerCase
      return ext != "html" && ext != "pdf" && ext != "xml"
    }
    false
  }

  private val staticNames: Set[String] = Set(
    "debian/watch", "debian/control", "debian/changelog", "debian/rules",
    "PKG-INFO", "package.json", "composer.json", "package.xml", "package.yaml",
    "dist.ini", "debian/copyright", "META.json", "MYMETA.json", "META.yml",
    "MYMETA.yml", "configure", "DESCRIPTION", "Cargo.toml", "pom.xml",
    ".git/config", "debian/get-orig-source.sh", "pyproject.toml", "setup.cfg",
    "go.mod", "Makefile.PL", "wscript", "AUTHORS", "INSTALL", "pubspec.yaml",
    "pubspec.yml", "meson.build", "metadata.json", ".travis.yml")

  private val securityNames: Set[String] =
    Set("SECURITY.md", ".github/SECURITY.md", "docs/SECURITY.md")

  /** The reference form of the subject split: a page url as (subj,
    * relpath), subj = scheme://host/seg1/, relpath = the rest (the
    * replay.invalid convention of FIXTURES.md §1). The engine runs it as
    * `subjCol`; SubjectExprSpec checks that form against this one.
    */
  def splitSubject(url: String): Option[(String, String)] = {
    val schemeEnd = url.indexOf("://")
    if (schemeEnd < 0) return None
    val hostStart = schemeEnd + 3
    val hostEnd = url.indexOf('/', hostStart)
    if (hostEnd < 0) return None
    val projEnd = url.indexOf('/', hostEnd + 1)
    if (projEnd < 0) return None
    Some((url.substring(0, projEnd + 1), url.substring(projEnd + 1)))
  }

  private[graft] def subjBasename(subj: String): String = {
    val t = subj.reverse.dropWhile(_ == '/').reverse
    t.substring(t.lastIndexOf('/') + 1)
  }

  /** The candidate captures of `pages` as (subj, relpath, ts, md5, text):
    * the narrow pre-shuffle stage of every grouped extraction and of the
    * store writes, a Catalyst filter and projection. A page is a candidate
    * when its url is (`candidateUrlCol`; a null url is not) and its text is
    * not null. `ts` is the warc_ts in millis; a null warc_ts (real crawls
    * have captures without one) is Long.MinValue, so it loses every
    * duplicate-capture pick instead of failing the task. The text is made
    * valid UTF-8 (a malformed sequence becomes U+FFFD) before `md5` hashes
    * it, so the hash and every extractor read the same bytes. `html` and
    * the non-candidate bulk never reach the exchange.
    */
  private[graft] def candidateRows(pages: DataFrame): DataFrame = {
    val url = F.col("url")
    val subj = subjCol(url)
    val text = F.make_valid_utf8(F.col("text"))
    pages.where(F.col("text").isNotNull && candidateUrlCol(url))
      .select(subj.as("subj"), url.substr(F.length(subj) + 1, F.length(url)).as("relpath"),
        F.coalesce(F.unix_millis(F.col("warc_ts")), F.lit(Long.MinValue)).as("ts"),
        F.md5(text).as("md5"), text.as("text"))
  }

  /** The duplicate-capture order: a real crawl recrawls pages, so one batch
    * can hold several captures of one (subj, relpath), and the max (ts,
    * md5) one wins — the newest capture, content-hash tie-broken — whatever
    * order the shuffle delivers them in. The reference never faces this (it
    * reads a checkout), so the rule is this engine's own. Every capture fold
    * orders by it: `bySubject`, `extractCanonicalPreExtract` and the
    * `Incremental` batch pass.
    */
  private[spark] def above(a: Ranked, b: Ranked): Boolean =
    a.ts > b.ts || (a.ts == b.ts && a.md5 > b.md5)

  /** The per-subject extraction kernel: ONE pass grouped by the `subj`
    * column over the candidate captures of `pages` (grouped by the column,
    * not by a key function, so no key is appended to each row before the
    * exchange), then `emit(subj, winning files)` with
    * the winning capture's text per relpath. The winners come from one
    * incremental fold, never materializing the capture stream: task memory
    * is O(distinct files), not O(captures), so a recrawl-heavy subject (one
    * hot project recrawled 10^5×, the skew a real crawl has) streams
    * through instead of inflating the group buffer. Every grouped
    * extraction is this pass with its own emit: `extractCanonical` and
    * `extractCanonicalWithStats` (both `summarizeSubject`),
    * `extractAndRender` and `extractRaw`. The store writes' pass
    * (`Incremental.batchPass`) also groups the stored captures.
    */
  private[spark] def bySubject[T: Encoder](pages: DataFrame)(
      emit: (String, scala.collection.Map[String, String]) => Iterator[T]): Dataset[T] =
    candidateRows(pages).groupBy("subj").as(Encoders.STRING, Encoders.product[Capture])
      .flatMapGroups { (subj, it) =>
        val best = scala.collection.mutable.HashMap[String, Capture]()
        it.foreach(c => if (best.get(c.relpath).forall(above(c, _))) best(c.relpath) = c)
        emit(subj, best.map { case (relpath, c) => relpath -> c.text })
      }

  /** One subject's canonical triples from its winning files (relpath →
    * text), then its `StatsPred` row: the one emit of the canonical
    * extractions and of the `Incremental` batch pass.
    */
  private[spark] def summarizeSubject(
      subj: String, files: scala.collection.Map[String, String],
      iterationLimit: Int = Summarize.DefaultIterationLimit): Iterator[CanonTriple] = {
    val (metadata, errors, droppedBad) =
      Summarize.summarizeWithStats(files, subjBasename(subj), iterationLimit = iterationLimit)
    metadata.iterator.map(datumToTriple(subj)) ++ Iterator.single(CanonTriple(subj, StatsPred,
      errors.size.toString, droppedBad.toString, -1, metadata.size.toString))
  }

  /** pages → canonical triples: the flagship KG construction job, the
    * `extractCanonicalWithStats` emit without its stats rows.
    */
  def extractCanonical(spark: SparkSession, pages: DataFrame): Dataset[CanonTriple] = {
    import spark.implicits._
    bySubject(pages)((subj, files) => summarizeSubject(subj, files).filter(_.pred != StatsPred))
  }

  /** Marker predicate for per-subject extraction-stats rows (same
    * leading-space convention as the probe carriers — cannot collide with a
    * real field name). obj = provider-error count, obj_json = known-bad drop
    * count, origin = triple count, all as decimal strings. In the
    * incremental triple log it is a re-extracted subject's tombstone.
    */
  val StatsPred: String = " stats"

  /** pages → canonical triples + per-subject extraction stats in the SAME
    * single pass: every subject emits one extra `StatsPred` marker row with
    * its provider errors (e.g. meson's offline introspection failure), its
    * dropped known-bad datums — the per-subject error channel the reference
    * logs and drops (lib.rs:3905-3913), as data — and its triple count.
    * ALWAYS split it (`splitStats`) before composing with the enrichment
    * operators — the space-prefixed predicate space is reserved for engine
    * markers and enrichment treats such rows as its own (they do not
    * survive the fused check pass).
    */
  def extractCanonicalWithStats(spark: SparkSession, pages: DataFrame): Dataset[CanonTriple] = {
    import spark.implicits._
    bySubject(pages)(summarizeSubject(_, _))
  }

  /** Splits an `extractCanonicalWithStats` stream into the real triples and
    * a (subj, errors, dropped_bad) stats table.
    */
  def splitStats(all: Dataset[CanonTriple]): (Dataset[CanonTriple], DataFrame) = {
    import all.sparkSession.implicits._
    val df = all.toDF()
    val triples = df.where(F.col("pred") =!= StatsPred).as[CanonTriple]
    val stats = df.where(F.col("pred") === StatsPred)
      .select(F.col("subj"),
        F.col("obj").cast("long").as("errors"),
        F.col("obj_json").cast("long").as("dropped_bad"))
    (triples, stats)
  }

  /** pages → per-subject rendered sink (YAML / codemeta / DOAP) in ONE
    * exchange: the renderer runs inside the extraction group on the true
    * typed datums, so sink jobs never re-shuffle the triples by subject a
    * second time (at crawl scale the render pass would otherwise double the
    * heavy shuffle).
    */
  def extractAndRender(
      spark: SparkSession,
      pages: DataFrame,
      render: List[graft.core.Datum] => String
  ): Dataset[(String, String)] = {
    import spark.implicits._
    bySubject(pages) { (subj, files) =>
      Iterator.single(subj -> render(Summarize.summarize(files, subjBasename(subj))._1))
    }
  }

  /** Two-phase variant: per-row pre-extraction in the narrow stage, so the
    * one shuffle carries extracted datums (~100s of bytes) instead of file
    * bodies — at crawl scale this cuts exchange volume by the README/page
    * size ratio. Only debian artifacts (which need sibling context: watch
    * templating, source/format) ship raw content, and those are tiny.
    * It reads the same candidate captures (`candidateRows`) and keeps the
    * same winners (`above`), so it is semantically identical to
    * `extractCanonical` (equivalence-tested on every reference fixture and
    * the synthetic corpus).
    *
    * Tradeoff, measured: on the synthetic corpus (where the README-derived
    * Description datum carries the whole page text) the datum rows are as
    * large as the files and the JSON codec only adds CPU — `grouped` wins
    * (487k vs 374k pages/s at 32 cores). On a real crawl, where a page is
    * 10-100× its extract, this path shrinks the exchange by that factor and
    * becomes the right default. Both stay available and tested.
    */
  def extractCanonicalPreExtract(spark: SparkSession, pages: DataFrame): Dataset[CanonTriple] = {
    import spark.implicits._
    candidateRows(pages).as[Capture]
      .flatMap { c =>
        // each row carries its capture's (ts, md5): post-shuffle only the
        // extracted datums remain, and the winner fold orders by them
        def row(kind: String, payload: String) =
          ExtractRow(c.subj, c.relpath, kind, payload, c.ts, c.md5)
        if (c.relpath.startsWith("debian/")) Iterator.single(row("x", c.text))
        else {
          val gs = Summarize.fileGuessers(c.relpath)
          if (gs.isEmpty) Iterator.single(row("m", ""))
          else gs.iterator.map { case (id, fn) =>
            row(s"d:$id", datumsToJson(fn(c.text).getOrElse(Nil)))
          }
        }
      }
      .groupByKey(_.subj)
      .flatMapGroups { (subj, it) =>
        // incremental winner fold, never materializing the capture stream:
        // per relpath keep ONLY the winning capture's rows (the buffer's
        // head is that capture) — a losing capture's rows are dropped as
        // they stream past, so task memory is O(winner rows), not
        // O(captures × guessers)
        val winner = scala.collection.mutable.HashMap
          .empty[String, scala.collection.mutable.ArrayBuffer[ExtractRow]]
        it.foreach { row =>
          winner.get(row.relpath) match {
            case None => winner(row.relpath) = scala.collection.mutable.ArrayBuffer(row)
            case Some(buf) =>
              if (above(row, buf.head)) { buf.clear(); buf += row }
              else if (!above(buf.head, row)) buf += row
          }
        }
        val deferred = Map.newBuilder[String, String]
        val pre = Map.newBuilder[(String, String), List[graft.core.Datum]]
        val relpaths = Set.newBuilder[String]
        winner.foreach { case (relpath, buf) =>
          relpaths += relpath
          buf.foreach { row =>
            row.kind match {
              case "x" => deferred += (row.relpath -> row.payload)
              case "m" => ()
              case d if d.startsWith("d:") =>
                pre += ((row.relpath, d.stripPrefix("d:")) -> datumsFromJson(row.payload))
              case _ => ()
            }
          }
        }
        Summarize.assemble(deferred.result(), relpaths.result(), pre.result(),
          subjBasename(subj)).iterator.map(datumToTriple(subj))
      }
  }

  /** pages → raw (pre-merge) triples: the scan-mode surface. `guesser_rank`
    * and `seq` encode arrival order deterministically so canonicalize() can
    * reproduce first-wins ties without relying on execution order.
    */
  def extractRaw(spark: SparkSession, pages: DataFrame): Dataset[RawTriple] = {
    import spark.implicits._
    bySubject(pages) { (subj, files) =>
      Summarize.extractRaw(files, subjBasename(subj)).iterator.zipWithIndex.map { case (dt, i) =>
        val (obj, objJson) = objForms(dt.value)
        RawTriple(subj, dt.field, obj, objJson,
          dt.certainty.getOrElse(-1), dt.origin.getOrElse(""), 0, i)
      }
    }
  }

  /** The certainty-lattice canonicalization as a pure Catalyst aggregate:
    * one row per (subj, pred); highest certainty wins; ties resolve to
    * first arrival (lowest guesser_rank, seq) — max_by over a struct whose
    * ordering is (certainty, -rank, -seq). Map-side partial aggregation and
    * AQE handle skew; no custom Aggregator needed (SURVEY §2.4).
    */
  def canonicalize(raw: Dataset[RawTriple]): DataFrame = {
    raw.groupBy("subj", "pred")
      .agg(F.max_by(
        F.struct("obj", "obj_json", "certainty", "origin"),
        F.struct(
          F.col("certainty"),
          F.negate(F.col("guesser_rank")),
          F.negate(F.col("seq")))).as("best"))
      .select(
        F.col("subj"), F.col("pred"),
        F.col("best.obj").as("obj"),
        F.col("best.obj_json").as("obj_json"),
        F.col("best.certainty").as("certainty"),
        F.col("best.origin").as("origin"))
  }

  /** `canonicalize`'s (certainty, -guesser_rank, -seq) struct as a Scala
    * order, for the argmaxes `enrichAll` takes inside its subject pass (a
    * string-valued max_by plans as a SortAggregate, which whole-stage codegen
    * cannot compile). An exact tie, where the aggregate keeps whichever row it
    * met first, goes to the larger (obj, obj_json) in `sparkStringOrder`.
    */
  private[spark] val latticeOrder: Ordering[SourcedTriple] = (a, b) => {
    var c = Integer.compare(a.certainty, b.certainty)
    if (c == 0) c = Integer.compare(b.guesser_rank, a.guesser_rank)
    if (c == 0) c = Integer.compare(b.seq, a.seq)
    if (c == 0) c = sparkStringOrder.compare(a.obj, b.obj)
    if (c == 0) c = sparkStringOrder.compare(a.obj_json, b.obj_json)
    c
  }

  /** Spark's ascending string order: null first, then UTF-8 bytes unsigned. */
  private[spark] val sparkStringOrder: Ordering[String] = (a, b) =>
    if (a == null) { if (b == null) 0 else -1 }
    else if (b == null) 1
    else org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  /** Graph materialization: URL-typed objects become edges; subjects and URL
    * objects become nodes (SURVEY §1.3). The DataFrame forms take `carry`
    * columns (e.g. the job's bucket), which lead their output, so production
    * jobs share ONE definition of what an edge/node is — the predicate must
    * never fork between the driver-verified queries and KgJob's tables.
    */
  def edgesDf(triples: DataFrame, carry: Seq[String] = Nil): DataFrame =
    triples
      .where(F.col("pred").isin(Fields.urlTyped.toSeq.map(x => x: Any): _*) &&
             F.col("obj").startsWith("http"))
      .select(carry.map(F.col) ++ Seq(
        F.col("subj").as("src"), F.col("pred"),
        F.col("obj").as("dst"), F.col("certainty")): _*)

  def edges(canon: Dataset[CanonTriple]): DataFrame = edgesDf(canon.toDF())

  /** One (id, kind) row per node: each edge yields its subject and its url
    * node from one two-element array, so the edge view is read once; a url
    * that is also a subject keeps kind `subject`. The aggregate takes the
    * min of a boolean `url` flag, not of the kind string, so it runs as a
    * hash aggregate over fixed-width buffers.
    */
  def nodesDf(e: DataFrame, carry: Seq[String] = Nil): DataFrame =
    e.select(carry.map(F.col) :+ F.inline(F.array(
        F.struct(F.col("src").as("id"), F.lit(false).as("url")),
        F.struct(F.col("dst").as("id"), F.lit(true).as("url")))): _*)
      .groupBy((carry :+ "id").map(F.col): _*)
      .agg(F.min("url").as("url"))
      .select(carry.map(F.col) ++ Seq(F.col("id"),
        F.when(F.col("url"), "url").otherwise("subject").as("kind")): _*)

  def nodes(canon: Dataset[CanonTriple]): DataFrame = nodesDf(edges(canon))

  /** Entity linking against a registry that fits in executor memory: a plain
    * broadcast hash join. A broadcast join has no key-based shuffle, so it is
    * skew-immune by construction — no salting needed (or possible).
    */
  def linkEntities(
      mentions: DataFrame,   // (subj, term)
      registry: DataFrame    // (term, entity_id)
  ): DataFrame =
    mentions.join(F.broadcast(registry), Seq("term"), "inner")

  /** Entity linking when the registry is too big to broadcast: a salted
    * SHUFFLE hash join. The registry side is replicated `salt` times, the
    * probe side picks a deterministic salt per row, so a hot term's probe
    * rows spread across `salt` reducers instead of piling onto one. This is
    * the skew pattern that matters at crawl scale, where a handful of terms
    * ("the", a trending entity) dominate the mention stream.
    */
  def linkEntitiesShuffleSalted(
      mentions: DataFrame,   // (subj, term)
      registry: DataFrame,   // (term, entity_id)
      salt: Int = 8
  ): DataFrame = {
    val salted = registry
      .withColumn("salt", F.explode(F.array((0 until salt).map(F.lit): _*)))
      .hint("shuffle_hash")  // keep AQE from downgrading the demo to broadcast
    val probe = mentions
      .withColumn("salt", F.pmod(F.xxhash64(F.col("subj")), F.lit(salt)).cast("int"))
    probe.join(salted, Seq("term", "salt"), "inner")
      .drop("salt")
  }

  /** Fuzzy entity linking: mention terms match registry aliases by character
    * 3-gram Jaccard ≥ threshold. Blocking = the classic entity-resolution
    * gram join (a candidate pair must share at least one 3-gram), so the
    * verify step runs on candidates only — never the term×alias cross
    * product. The registry/gram side broadcasts; for a registry too large to
    * broadcast the same shape runs as a shuffle join on `gram`, and the
    * MinHash banding of TrainingOps.minhashBands slots in as the coarser
    * blocker. All arithmetic is exact (int gram-set sizes, one double
    * division), so the operator is relationally oracle-checkable.
    */
  def linkEntitiesFuzzy(
      terms: DataFrame,     // (term)
      registry: DataFrame,  // (alias, entity_id)
      threshold: Double = 0.5
  ): DataFrame = {
    def grams(col: String) = F.array_distinct(F.expr(
      s"transform(sequence(1, length($col) - 2), i -> substring($col, i, 3))"))
    val t = terms.where(F.length(F.col("term")) >= 3)
      .withColumn("tg", grams("term"))
    val r = registry.where(F.length(F.col("alias")) >= 3)
      .withColumn("ag", grams("alias"))
    val rGrams = r.select(F.col("alias"), F.explode(F.col("ag")).as("gram")).distinct()
    val cand = t.select(F.col("term"), F.explode(F.col("tg")).as("gram"))
      .join(F.broadcast(rGrams), Seq("gram"))
      .select("term", "alias").distinct()
    cand
      .join(t.select("term", "tg"), Seq("term"))
      .join(F.broadcast(r.select("alias", "ag", "entity_id")), Seq("alias"))
      .withColumn("inter", F.size(F.array_intersect(F.col("tg"), F.col("ag"))))
      .withColumn("uni", F.size(F.array_union(F.col("tg"), F.col("ag"))))
      .withColumn("jaccard", F.col("inter").cast("double") / F.col("uni"))
      .where(F.col("jaccard") >= threshold)
      .select("term", "entity_id", "jaccard")
  }

  // ---------- extend stage: external sources ----------
  // The reference runs every external source through one rule
  // (`possible_fields_missing` + `extend_from_external_guesser`,
  // src/lib.rs:2284-2324): a source is consulted for a subject only while
  // some field it supports is absent or below Certain, and its datums enter
  // the lattice at the source's certainty cap. Relationally the gate is an
  // ANTI-JOIN against the subjects complete for the source's fields
  // (`completeFor`), so the enrichment work stays proportional to the
  // incomplete subjects rather than the whole graph. The subject-keyed
  // registry operator and the payload providers of the archive and
  // external-directory dispatches (`consult`) all gate this way, and every
  // staged operator ends in `merge`: one lattice argmax in which existing
  // data of equal or higher certainty wins, so capped rows can only fill
  // gaps. That argmax also makes the gate a pure pruning step for rows that
  // are already parsed: a complete subject holds every supported field at
  // Certain with rank 0, which beats any registry row (capped at most at
  // Certain, rank 1), so `enrichAll` takes the registry ungated.

  /** Subject-keyed registry enrichment: registry rows for `supportedFields`
    * enter the lattice at `maxCertainty`, behind the completeness gate.
    */
  def enrichFromRegistry(
      canon: Dataset[CanonTriple],
      registry: DataFrame,            // (subj, pred, obj[, obj_json])
      supportedFields: Seq[String],
      maxCertainty: Int
  ): Dataset[CanonTriple] = {
    val cd = canon.toDF()
    merge(cd, Seq(registryRaw(registry, supportedFields, maxCertainty)
      .join(completeFor(cd, supportedFields)(supportedFields), Seq("subj"), "left_anti")))
  }

  /** The staged operators' common end: the canon as existing data (rank 0)
    * unions the enrichment `streams` into the one lattice argmax.
    */
  private def merge(cd: DataFrame, streams: Seq[DataFrame]): Dataset[CanonTriple] = {
    import cd.sparkSession.implicits._
    canonicalize(streams.foldLeft(canonAsRaw(cd))(_.unionByName(_)).as[RawTriple])
      .as[CanonTriple]
  }

  /** The `possible_fields_missing` gate: ONE aggregate of each subject's
    * `unionFields` held at Certain, as a fixed-width mask (bit i is
    * `unionFields(i)`, a `bit_or` hash aggregate), and per field list the
    * subjects whose mask holds all of it. Each field list filters ABOVE the
    * one (subj) exchange, so the gates of one dispatch canonicalize to
    * identical exchange subtrees and ReuseExchange runs the canon scan and
    * shuffle once for all of them (plan-asserted in ArchiveDispatchSpec and
    * ExternalDirectorySpec). A field outside `unionFields` is never
    * complete.
    */
  private def completeFor(cd: DataFrame, unionFields: Seq[String]): Seq[String] => DataFrame = {
    require(unionFields.size < 64, s"at most 63 gate fields, got ${unionFields.size}")
    val bit = F.call_function("shiftleft", F.lit(1L),
      (F.array_position(F.lit(unionFields.toArray), F.col("pred")) - 1).cast("int"))
    val certainMasks = cd
      .where(F.col("pred").isin(unionFields.map(x => x: Any): _*) &&
             F.col("certainty") === Certainty.Certain)
      .groupBy("subj").agg(F.bit_or(bit).as("certain_mask"))
    fields => {
      val need = fields.map(f => unionFields.indexOf(f) match {
        case -1 => Long.MinValue // bit 63: no field sets it
        case i  => 1L << i
      }).foldLeft(0L)(_ | _)
      certainMasks.where((F.col("certain_mask").bitwiseAND(need)) === need).select("subj")
    }
  }

  /** The subject-keyed registry as a raw stream, shared by
    * `enrichFromRegistry` and `enrichAll`: registry rows for the supported
    * fields at the registry's cap (rank 1); structured payloads keep their
    * obj_json when the registry table carries the column.
    */
  private def registryRaw(
      registry: DataFrame,
      supportedFields: Seq[String],
      maxCertainty: Int
  ): DataFrame = {
    val regJson =
      if (registry.columns.contains("obj_json")) F.col("obj_json")
      else F.lit("")
    registry
      .where(F.col("pred").isin(supportedFields.map(x => x: Any): _*))
      .select(
        F.col("subj"), F.col("pred"), F.col("obj"), regJson.as("obj_json"),
        F.lit(maxCertainty).as("certainty"),
        F.lit("external-registry").as("origin"),
        F.lit(1).as("guesser_rank"), F.lit(0).as("seq"))
  }

  /** A payload provider of the extend stage's archive dispatch
    * (the reference's src/lib.rs:3555-3650) or external-directory dispatch
    * (lib.rs:3652-3694). `source` is the payload table's routing value (the
    * archive or directory name). Each payload runs through `parsers`, the
    * RegistryParsers dialects in order. `supportedFields` drive the
    * provider's gate. Items enter the lattice at `maxCertainty`, or at the
    * routing Archive datum's own certainty when it is None (SourceForge:
    * lib.rs:3567-3576 passes `sf_certainty`). An archive provider's payload
    * key is the subject's `projectField`.
    */
  final case class Provider(
      source: String,
      parsers: Seq[String],
      supportedFields: Seq[String],
      maxCertainty: Option[Int],
      projectField: String = "")

  /** The archive dispatch's providers. The ThirdPartyRepository providers
    * cap at Certain (haskell.rs:216, rust.rs:512, php.rs:122).
    */
  val archiveProviders: Seq[Provider] = Seq(
    Provider("SourceForge", Seq("sourceforge"),
      Seq("Homepage", "Name", "Repository", "Bug-Database"),
      None, "SourceForge-Project"),                        // lib.rs:3556-3576
    Provider("Hackage", Seq("hackage"),
      Seq("Homepage", "Name", "Repository", "Maintainer", "Copyright",
        "License", "Bug-Database"),
      Some(Certainty.Certain), "Hackage-Package"),          // lib.rs:3578-3600
    Provider("crates.io", Seq("crates"),
      Seq("Homepage", "Name", "Repository", "Version", "Summary"),
      Some(Certainty.Certain), "Cargo-Crate"),             // lib.rs:3602-3626
    Provider("Pecl", Seq("pecl"),
      Seq("Homepage", "Repository", "Bug-Database"),
      Some(Certainty.Certain), "Pecl-Package"))            // lib.rs:3628-3650

  /** The external-directory dispatch's providers, in the reference's
    * consultation order (lib.rs:3663-3692), which becomes `guesser_rank` so
    * an earlier provider's value wins certainty ties, exactly like the
    * reference's sequential insert-only-if-more-certain updates. Caps:
    * Possible for Launchpad (lib.rs:3745-3746), AUR (arch.rs:189-195) and
    * Gobo (gobo.rs:160-166), Confident for Repology (lib.rs:3768-3770).
    * Gobo payloads are the Recipe and Resources/Description files
    * concatenated; the two line dialects are disjoint, so one blob through
    * both parsers reproduces `guess_from_gobo`'s datum concatenation
    * (gobo.rs:73-133).
    */
  val externalDirectoryProviders: Seq[Provider] = Seq(
    Provider("launchpad", Seq("launchpad"),
      Seq("Homepage", "Repository", "Name", "Download"), Some(Certainty.Possible)),
    Provider("aur", Seq("aur"),
      Seq("Homepage", "Repository"), Some(Certainty.Possible)),
    Provider("gobo", Seq("gobo-recipe", "gobo-description"),
      Seq("Homepage", "Repository"), Some(Certainty.Possible)),
    Provider("repology", Seq("repology"),
      Seq("Homepage", "License", "Summary", "Download"), Some(Certainty.Confident)))

  /** The consult pass of both dispatches: `keyed` subjects (subj, key,
    * name, cap) minus the gate-complete ones, joined on `key` to the
    * provider's rows of `payloads` (source, key, payload). Only consulted
    * payloads are parsed, each once, through the provider's dialects (the
    * SourceForge dialect filters by the subject's Name, like
    * `SourceForge::extend_metadata`, lib.rs:2363-2372). Datums leave as raw
    * rows at the row's cap (extend_from_external_guesser overrides each
    * item's certainty, lib.rs:2314-2321), with `origin`, tie rank `rank`
    * and emission-order seq. A null payload parses to `Left` in every
    * dialect, so it consults nothing, like a null page in `scrapedDatums`.
    *
    * Plan shape: the payload join shuffles on the key, proportional to the
    * incomplete subjects of that provider, never the whole graph.
    */
  private def consult(
      keyed: DataFrame,
      complete: DataFrame,
      payloads: DataFrame,
      p: Provider,
      origin: String,
      rank: Int
  ): DataFrame = {
    import keyed.sparkSession.implicits._
    val parsers = p.parsers
    keyed
      .join(complete, Seq("subj"), "left_anti")
      .join(payloads.where(F.col("source") === p.source)
        .select(F.col("key"), F.col("payload")), Seq("key"))
      .select(F.col("subj"), F.col("key"), F.col("name"), F.col("cap"), F.col("payload"))
      .as[(String, String, String, Int, String)]
      .flatMap { case (subj, key, name, cap, payload) =>
        val parsed = parsers.flatMap {
          case "sourceforge" => graft.registry.RegistryParsers
            .parseSfJson(payload, key, Option(name)).getOrElse(Nil)
          case kind => graft.registry.RegistryParsers
            .parse(kind, payload).getOrElse(Nil)
        }
        parsed.iterator.zipWithIndex.map { case (d, i) =>
          val (obj, objJson) = objForms(d.value)
          (subj, d.field, obj, objJson, cap, i)
        }
      }
      .toDF("subj", "pred", "obj", "obj_json", "certainty", "seq")
      .select(F.col("subj"), F.col("pred"), F.col("obj"), F.col("obj_json"),
        F.col("certainty"), F.lit(origin).as("origin"),
        F.lit(rank).as("guesser_rank"), F.col("seq"))
  }

  /** Archive-dispatch registry enrichment: a payload side table keyed by
    * `(archive, project)` (the natural shape of a crawled registry-API
    * snapshot) is consulted for each subject BY ITS OWN Archive and
    * `projectField` datums (e.g. the ones `extendSfArchive` derives), so a
    * subject fans out to exactly one provider. Datums enter the lattice at
    * rank 1, like the subject-keyed registry stream. The keyed side is the
    * tiny Archive-field subset of `canon` (pruned scans of a stored table).
    */
  def enrichFromArchive(
      canon: Dataset[CanonTriple],
      payloads: DataFrame              // (archive, project, payload)
  ): Dataset[CanonTriple] = {
    val cd = canon.toDF()
    val complete = completeFor(cd, archiveProviders.flatMap(_.supportedFields).distinct)
    val side = payloads.select(F.col("archive").as("source"),
      F.col("project").as("key"), F.col("payload"))
    val names = cd.where(F.col("pred") === "Name")
      .select(F.col("subj"), F.col("obj").as("name"))
    merge(cd, archiveProviders.map { p =>
      val keyed = cd
        .where(F.col("pred") === "Archive" && F.col("obj") === p.source)
        .select(F.col("subj"),
          p.maxCertainty.fold(F.col("certainty"))(F.lit(_)).as("cap"))
        .join(cd.where(F.col("pred") === p.projectField)
          .select(F.col("subj"), F.col("obj").as("key")), Seq("subj"))
        .join(names, Seq("subj"), "left")
      consult(keyed, complete(p.supportedFields), side, p, "external-registry", rank = 1)
    })
  }

  /** The debian/control Source package name — the routing key of the
    * external-directory dispatch (lib.rs:3655-3661: a relaxed parse of
    * debian/control; a missing or unparseable file routes nowhere).
    */
  def debianSourceName(content: String): Option[String] =
    graft.extract.Parsers.parseDeb822(content)
      .flatMap(graft.extract.Parsers.deb822Get(_, "Source"))
      .headOption

  /** External-directory enrichment, the extend stage's
    * `consult_external_directory` branch: each subject's Debian
    * source-package name (from its OWN debian/control; `sources` is (subj,
    * package), typically derived with `debianSourceName`) is consulted at
    * Launchpad, AUR, GoboLinux and Repology in order, with the provider's
    * position as `guesser_rank` (existing data, rank 0, beats them all).
    * A provider whose cap cannot meet `minimumCertainty` is skipped
    * entirely (lib.rs:3749-3752, 3717-3720, 3772-3775). Unlike the archive
    * dispatch, every debian-keyed subject consults every open directory.
    * The reference runs this branch only under `net_access &&
    * consult_external_directory`; a caller that does not want it does not
    * call it.
    */
  def enrichFromExternalDirectory(
      canon: Dataset[CanonTriple],
      sources: DataFrame,              // (subj, package)
      payloads: DataFrame,             // (directory, package, payload)
      minimumCertainty: Int = Certainty.Possible
  ): Dataset[CanonTriple] = {
    val cd = canon.toDF()
    val complete = completeFor(cd,
      externalDirectoryProviders.flatMap(_.supportedFields).distinct)
    val side = payloads.select(F.col("directory").as("source"),
      F.col("package").as("key"), F.col("payload"))
    merge(cd, externalDirectoryProviders.zipWithIndex.collect {
      case (p @ Provider(_, _, _, Some(cap), _), idx) if cap >= minimumCertainty =>
        val keyed = sources.select(F.col("subj"), F.col("package").as("key"),
          F.lit(null).cast("string").as("name"), F.lit(cap).as("cap"))
        consult(keyed, complete(p.supportedFields), side, p,
          "external-directory", rank = 1 + idx)
    })
  }

  /** The scrape side shared by `enrichFromHomepages` and `enrichAll`: the
    * (subj, url) homepages join the fetched corpus (only matched pages are
    * ever parsed), and each page's datums are numbered in EMISSION order
    * (`seq`) — canonicalize negates seq, so at equal certainty the
    * first-in-document link wins, matching the reference's insert-first-wins
    * merge (a page with both a 'GitHub' and a 'repository' anchor must not
    * be shuffle-order dependent). `src` is the page's url.
    */
  private def scrapedDatums(
      spark: SparkSession,
      homepages: DataFrame,            // (subj, url)
      fetched: DataFrame
  ): DataFrame =
    homepages
      .join(fetched, Seq("url"))
      .select(F.col("subj"), F.col("url").as("src"), F.posexplode(graft.functions.ScalaKernel
        .column(spark, "homepage_datums", homepageDatums, DatumsType,
          F.col("html"), F.col("url"))).as(Seq("seq", "d")))
      .select(F.col("subj"), F.col("d.pred").as("pred"), F.col("d.obj").as("obj"),
        F.col("d.obj_json").as("obj_json"), F.col("seq"), F.col("src"))

  /** A fetched page's datums in document order: (html, url) → an array of
    * (pred, obj, obj_json); a null page has none.
    */
  private val homepageDatums: Array[Any] => Any = args =>
    datumArray(if (args(0) == null) Nil
      else graft.extract.Homepage.guessFromPage(args(0).toString, args(1).toString))

  /** `ds` as a `DatumsType` kernel value, in order. */
  private[graft] def datumArray(ds: Seq[Datum]): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(ds.iterator.map { d =>
      val (obj, objJson) = objForms(d.value)
      org.apache.spark.sql.catalyst.InternalRow(utf8(d.field), utf8(obj), utf8(objJson))
    }.toArray[Any])

  /** An array of datums as (pred, obj, obj_json) structs. */
  private[graft] val DatumsType = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.StructType(Seq("pred", "obj", "obj_json").map(
      org.apache.spark.sql.types.StructField(_, org.apache.spark.sql.types.StringType))),
    containsNull = false)

  private def utf8(x: String) = org.apache.spark.unsafe.types.UTF8String.fromString(x)

  /** Homepage-scrape enrichment — extrapolation rule 14 in its crawl-scale
    * form (the reference's src/homepage.rs:7-56): the reference fetches each
    * subject's Homepage and harvests Repository / Bug-Database links from the
    * page; offline the fetches arrive as a side table of already-crawled
    * homepages (url, html). The join keys on the Homepage triple's object, so
    * only subjects that HAVE a homepage consult the corpus; harvested datums
    * enter the lattice at Possible and can only fill gaps.
    */
  def enrichFromHomepages(
      canon: Dataset[CanonTriple],
      fetched: DataFrame               // (url, html) crawled homepage corpus
  ): Dataset[CanonTriple] = {
    val cd = canon.toDF()
    val homepages = cd.where(F.col("pred") === "Homepage")
      .select(F.col("subj"), F.col("obj").as("url"))
    merge(cd, Seq(scrapeAsRaw(scrapedDatums(canon.sparkSession, homepages, fetched), rank = 1)
      .drop("src")))
  }

  /** Scraped homepage datums as a raw stream: Possible certainty, the given
    * tie rank, document-order seq, and the page's url as `src`.
    */
  private def scrapeAsRaw(scraped: DataFrame, rank: Int): DataFrame =
    scraped.select(
      F.col("subj"), F.col("pred"), F.col("obj"), F.col("obj_json"),
      F.lit(Certainty.Possible).as("certainty"),
      F.lit("homepage-scrape").as("origin"),
      F.lit(rank).as("guesser_rank"), F.col("seq"), F.col("src"))

  /** Post-enrichment extrapolation — the reference lifecycle runs the
    * extrapolation fixpoint AFTER external enrichment
    * (`extend_upstream_metadata` ends by calling `extrapolate_fields`,
    * /root/reference/src/lib.rs:3695 → src/extrapolate.rs:511), so a
    * Repository gained from a registry or homepage scrape derives
    * Repository-Browse / Bug-Database / Bug-Submit / Name exactly like an
    * extracted one. Relationally: extraction already left every subject at
    * the extrapolation fixpoint and the rules are deterministic, so only
    * subjects that actually GAINED data (identified by the enrichment
    * origins) can change. The gate is applied IN-GROUP of a single
    * groupByKey(subj) pass: a group with no enriched-origin row passes its
    * rows through untouched (an iterator hand-off — no datum decoding, no
    * fixpoint), so the extrapolation CPU stays proportional to the enriched
    * subjects while the plan stays ONE linear pass. (A broadcast semi/anti
    * split would gate the SHUFFLE too, but it consumes the upstream table
    * twice — per-branch column pruning then defeats exchange reuse and the
    * heaviest aggregate re-executes per branch, the exact pathology
    * `enrichAll` exists to remove. The one subject-regroup here is over the
    * already-canonicalized triple table, orders of magnitude below the page
    * scan.) The per-subject fixpoint is the same pure `Summarize.extrapolate`
    * the extractor runs (src/extrapolate.rs:427-618 rule set), fed through
    * the typed obj/obj_json round-trip.
    */
  private def tripleToDatum(t: CanonTriple): graft.core.Datum =
    graft.core.Datum(
      t.pred, valueFromForms(t.obj, t.obj_json),
      if (t.certainty < 0) None else Some(t.certainty),
      if (t.origin.isEmpty) None else Some(t.origin))

  private[spark] def datumToTriple(subj: String)(d: graft.core.Datum): CanonTriple = {
    val (obj, objJson) = objForms(d.value)
    CanonTriple(subj, d.field, obj, objJson,
      d.certainty.getOrElse(-1), d.origin.getOrElse(""))
  }

  /** The offline extend tail over one subject's canonical rows, in lifecycle
    * order: the SF-archive head (lib.rs:3521-3554) sees enrichment-gained
    * URL fields before the extrapolation fixpoint. ONE definition shared by
    * `extrapolatePost` and `enrichAll`'s fused pass, so the two can never
    * drift.
    */
  private def extendTail(
      rows: Array[CanonTriple]
  ): scala.collection.mutable.ArrayBuffer[graft.core.Datum] = {
    val md = scala.collection.mutable.ArrayBuffer.from(
      rows.map(tripleToDatum).sortBy(_.field))
    Summarize.extendSfArchive(md)
    // extend_upstream_metadata propagates ExtrapolationLimitExceeded with
    // `?` (lib.rs:3695) — the enrichment job fails, it is not logged-and-
    // dropped like guesser errors, so a non-convergent subject fails the
    // task here too
    Summarize.extrapolate(md).foreach(e =>
      throw new IllegalStateException(e))
    md
  }

  /** The canonical table re-expressed as a raw stream (rank 0, seq 0 — the
    * existing data that wins every tie against enrichment streams).
    */
  private[spark] def canonAsRaw(cd: DataFrame): DataFrame =
    cd.select(
      F.col("subj"), F.col("pred"), F.col("obj"), F.col("obj_json"),
      F.col("certainty"), F.col("origin"),
      F.lit(0).as("guesser_rank"), F.lit(0).as("seq"))

  /** The staged form of `enrichAll`'s in-group extrapolation: the extend
    * tail on every subject that carries one of `enrichedOrigins`. It is the
    * reference EnrichPlanSpec checks the fused pass against.
    */
  def extrapolatePost(
      canon: Dataset[CanonTriple],
      enrichedOrigins: Seq[String]
  ): Dataset[CanonTriple] = {
    import canon.sparkSession.implicits._
    val origins = enrichedOrigins.toSet
    canon.groupByKey(_.subj).flatMapGroups { (subj, it) =>
      val rows = it.toArray
      if (!rows.exists(r => origins.contains(r.origin))) rows.iterator
      else extendTail(rows).sortBy(_.field).iterator.map(datumToTriple(subj))
    }
  }

  /** The full enrichment lifecycle in the reference's order — extend
    * (external registry + homepage scrape), extrapolate, check — in ONE
    * subject pass over the raw datum streams: the existing canon (rank 0),
    * the registry (rank 1, at most Certain) and the homepage scrape (rank 2)
    * union and shuffle once on `subj`, and each subject group takes its
    * lattice argmax per pred in Scala (`latticeOrder`, the order of
    * `canonicalize`'s struct), then runs the extend tail and the checks. The staged
    * `enrichFromRegistry → enrichFromHomepages → applyUrlProbes` chain
    * shuffles the full table once per stage; stage precedence at equal
    * certainty is the same `guesser_rank` tie order, so the fused form
    * equals the staged chain with `extrapolatePost` before `applyUrlProbes`.
    * No string-valued aggregate runs: a string max_by plans as a
    * SortAggregate and a collect_set as an ObjectHashAggregate, neither of
    * which whole-stage codegen compiles (plan-asserted in EnrichPlanSpec).
    * The registry needs no completeness gate here: a subject that holds
    * every supported field at Certain keeps it against any registry row in
    * the same argmax, so the gate of `enrichFromRegistry` would only prune
    * rows that cannot win.
    *
    * The scrape source is the POST-REGISTRY-MERGE homepage, as in the staged
    * chain: every non-scrape Homepage candidate (existing and registry
    * rows) joins the fetched corpus, each scraped datum carries its
    * page's url (`src`), and the group keeps only the scrape of its winning
    * homepage (the `latticeOrder` argmax of its non-scrape Homepage rows).
    * A homepage first learned from the registry in this batch is scraped in
    * this SAME batch.
    *
    * Probe verdicts never touch the driver: the raw probe/collapsed
    * screenshot tables JOIN (on url) against the candidate-url set of each
    * subject — its checked-field objs, the per-datum extrapolation closure
    * of every url-typed obj (all url-producing extrapolation rules are
    * single-source, so the union of per-datum closures covers every url the
    * in-group fixpoint can derive; over-approximation, including the urls
    * of losing homepages' scrapes, only adds carriers that are never looked
    * up), and the members of Likely Screenshots lists. The matches are
    * carrier rows cogrouped with the subject's datums; duplicate probe rows
    * of one url collapse in-group by `collapseProbes`' rule. A probe fleet
    * covering 10^9 urls stays distributed end to end; the per-subject
    * carrier count is bounded by the subject's own url count. The candidate
    * side re-reads the raw union's exchange (ReuseExchange).
    *
    * The `canon` input is referenced twice (existing stream and homepage
    * side). In production that input is a STORED triple table (KgJob's
    * output), so each reference is a pruned parquet scan; if you pass a live extraction pipeline instead, persist it first
    * or accept re-execution — the one full-width exchange guarantee is about
    * the enrichment itself, not the caller's upstream.
    */
  def enrichAll(
      canon: Dataset[CanonTriple],
      registry: DataFrame,             // (subj, pred, obj[, obj_json])
      supportedFields: Seq[String],
      maxCertainty: Int,
      fetched: DataFrame,              // (url, html) crawled homepage corpus
      probes: DataFrame,               // (url, status, canonical_url)
      screenshotProbes: Option[DataFrame] = None
  ): Dataset[CanonTriple] = {
    require(maxCertainty <= Certainty.Certain, s"registry cap $maxCertainty above Certain")
    val spark = canon.sparkSession
    import spark.implicits._
    val cd = canon.toDF()
    val noSrc = F.lit(null).cast("string").as("src")
    val existing = canonAsRaw(cd).select(F.col("*"), noSrc)
    // ungated: the lattice already keeps a complete subject's registry rows
    // from winning (see the extend-stage notes above `enrichFromRegistry`)
    val regRaw = registryRaw(registry, supportedFields, maxCertainty).select(F.col("*"), noSrc)
    // the registry branch only when the registry can emit a Homepage: an
    // always-empty branch still plans a second registry-parse stage
    val existingHp = existing.where(F.col("pred") === "Homepage")
    val hpCandidates = (if (supportedFields.contains("Homepage"))
        existingHp.unionByName(regRaw.where(F.col("pred") === "Homepage"))
      else existingHp)
      .select(F.col("subj"), F.col("obj").as("url"))
    val scrapeRaw = scrapeAsRaw(scrapedDatums(spark, hpCandidates, fetched), rank = 2)
    // the union feeds BOTH the subject pass and the candidate-url branch;
    // the explicit repartition on the pass's key IS the pass's shuffle (the
    // requirement is already satisfied, so no extra exchange appears) and
    // turns the union into shared map output — the candidate branch reads
    // the reused exchange instead of re-running the union's upstream
    // (registry rows, scrape parse, and the caller's canon pipeline when it
    // is not a stored table)
    val rawAll = existing.unionByName(regRaw).unionByName(scrapeRaw)
      .repartition(F.col("subj"))
    val shots1 = screenshotProbes.map(collapseShots)
    val haveShots = screenshotProbes.isDefined
    // consuming FULL rows (a struct of every column, not a pruned
    // projection) keeps this branch's exchange subtree canonically identical
    // to the subject pass's, so ReuseExchange shares the one shuffle — a
    // narrower select here pushes a different projection below the exchange
    // and silently doubles the union's upstream execution. The explode keeps
    // the exchange's subj partitioning, so when the probe table broadcasts
    // the carriers reach the subject pass without a shuffle of their own
    val cands = rawAll.select(F.col("subj"), F.explode(graft.functions.ScalaKernel.column(
        spark, "probe_candidate_urls", candidateUrls, CandidateUrlsType,
        F.struct(SourcedColumns.map(F.col): _*))).as("url"))
    val pCarrier = cands.join(probes.select("url", "status", "canonical_url"), Seq("url"))
      .select(F.col("subj"), F.lit(ProbeCarrierPred).as("pred"),
        F.col("url").as("obj"), F.col("canonical_url").as("obj_json"),
        F.lit(-1).as("certainty"), F.col("status").as("origin"))
    val sCarrier = shots1.map(s1 => cands.join(s1, Seq("url"))
      .select(F.col("subj"), F.lit(ShotCarrierPred).as("pred"),
        F.col("url").as("obj"), F.lit("").as("obj_json"),
        F.col("live").cast("int").as("certainty"), F.lit("").as("origin")))
    val carriers = sCarrier.foldLeft(pCarrier)(_.unionByName(_))
    val origins = Set("external-registry", "homepage-scrape")
    // grouping by the COLUMN (not a groupByKey lambda) keeps the pass on
    // rawAll's subj partitioning, which the carriers keep too unless their
    // probe join shuffles on url
    rawAll.groupBy("subj").as[String, SourcedTriple]
      .cogroup(carriers.groupBy("subj").as[String, CanonTriple]) { (subj, rawIt, carrierIt) =>
        val rows = latticeWinners(subj, rawIt.toArray)
        val carried = carrierIt.toArray
        val enriched = rows.exists(r => origins.contains(r.origin))
        // a Likely Screenshots list is re-verified whenever a screenshot fleet
        // ran AT ALL — an entirely-unprobed list still demotes (tri-state)
        val probed = carried.nonEmpty ||
          (haveShots && rows.exists(r =>
            r.pred == "Screenshots" && r.certainty == Certainty.Likely))
        if (!enriched && !probed) rows.iterator
        else {
          // one verdict per url: the largest (status, canonical), as in
          // collapseProbes
          val pm = scala.collection.mutable.HashMap.empty[String, (String, String)]
          val verdictOrder = Ordering.Tuple2(sparkStringOrder, sparkStringOrder)
          carried.foreach { c =>
            if (c.pred == ProbeCarrierPred) {
              val v = (c.origin, c.obj_json)
              if (pm.get(c.obj).forall(verdictOrder.lt(_, v))) pm(c.obj) = v
            }
          }
          val sm: Map[String, Boolean] = carried.iterator
            .filter(_.pred == ShotCarrierPred)
            .map(c => c.obj -> (c.certainty == 1)).toMap
          val md =
            if (enriched) extendTail(rows) // extend → extrapolate, shared defn
            else scala.collection.mutable.ArrayBuffer.from(
              rows.map(tripleToDatum).sortBy(_.field))
          val checkedMd =
            if (probed) {
              val lookup: (String, String) => graft.pipeline.Checks.Outcome =
                (_, url) => pm.get(url) match {
                  case Some(("valid", canonical)) =>
                    graft.pipeline.Checks.Valid(canonical)
                  case Some(("invalid", _)) => graft.pipeline.Checks.Invalid
                  case _ => graft.pipeline.Checks.Unverifiable
                }
              if (haveShots)
                graft.pipeline.Checks.applyProbes(md.toList, lookup, url => sm.get(url))
              else
                // no screenshot fleet ran: Screenshots lists stay untouched —
                // treating "no fleet" as "all inconclusive" would empty every
                // Likely list (matches applyUrlProbes with screenshotProbes
                // = None)
                graft.pipeline.Checks.applyProbesNoScreenshots(md.toList, lookup)
            } else md.toList
          checkedMd.sortBy(_.field).iterator.map(datumToTriple(subj))
        }
      }
  }

  /** One subject's lattice winners, one row per pred, by `latticeOrder`. A
    * scraped datum counts only when its page is the winning homepage: the
    * `latticeOrder` argmax of the subject's non-scrape Homepage rows.
    */
  private def latticeWinners(subj: String, raws: Array[SourcedTriple]): Array[CanonTriple] = {
    var home: SourcedTriple = null
    raws.foreach { r =>
      if (r.src == null && r.pred == "Homepage" && (home == null || latticeOrder.gt(r, home)))
        home = r
    }
    val homeUrl = if (home == null) null else home.obj
    val best = scala.collection.mutable.HashMap.empty[String, SourcedTriple]
    raws.foreach { r =>
      if ((r.src == null || r.src == homeUrl) && best.get(r.pred).forall(latticeOrder.lt(_, r)))
        best(r.pred) = r
    }
    best.valuesIterator
      .map(r => CanonTriple(subj, r.pred, r.obj, r.obj_json, r.certainty, r.origin))
      .toArray
  }

  // carrier rows ride the subject pass's second cogroup side; their preds
  // only tell a probe verdict from a screenshot verdict
  private[spark] val ProbeCarrierPred: String = "\u0000probe"
  private[spark] val ShotCarrierPred: String = "\u0000shot"

  private val checkedFields: Set[String] = Set(
    "Repository", "Homepage", "Repository-Browse", "Bug-Database", "Bug-Submit")

  private lazy val closureStartFields: Set[String] =
    checkedFields ++ graft.pipeline.Summarize.singletonRuleSourceFields

  /** Every url the in-group check could look up for a raw row of its
    * subject: the obj itself (checked fields), the checked-field values
    * reachable from this ONE datum through the single-source extrapolation
    * rules (covers urls first derived by the in-group fixpoint — a BFS over
    * the actual rule callbacks, far cheaper than running the full fixpoint
    * machinery per row), and the members of a Likely Screenshots list.
    */
  private[spark] def probeCandidateUrls(
      pred: String, obj: String, objJson: String, certainty: Int): Iterator[String] =
    if (pred == "Screenshots") {
      if (certainty != Certainty.Likely) Iterator.empty
      else valueFromForms(obj, objJson) match {
        case graft.core.UStrings(us) => us.iterator
        case _                       => Iterator.empty
      }
    } else if (closureStartFields.contains(pred)) {
      val seen = scala.collection.mutable.LinkedHashSet((pred, obj))
      var frontier: List[(String, String)] = (pred, obj) :: Nil
      var depth = 0
      while (frontier.nonEmpty && depth < 8) { // field graph is shallow;
        depth += 1                             // depth guards value cycles
        frontier = frontier
          .flatMap { case (f, u) =>
            graft.pipeline.Summarize.singletonUrlDerivations(f, u) }
          .filter(seen.add)
      }
      seen.iterator
        .collect { case (f, u) if checkedFields.contains(f) => u }
        .distinct
    } else Iterator.empty

  /** `probeCandidateUrls` over a struct of a SourcedTriple's columns. */
  private val candidateUrls: Array[Any] => Any = args => {
    val r = args(0).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    def str(i: Int) = if (r.isNullAt(i)) null else r.getUTF8String(i).toString
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      probeCandidateUrls(str(1), str(2), str(3), r.getInt(4)).map(utf8).toArray[Any])
  }

  private val CandidateUrlsType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)

  private val SourcedColumns: Seq[String] = Encoders.product[SourcedTriple].schema.fieldNames.toSeq

  /** One row per url, deterministically: the lexicographically largest
    * (status, canonical) wins — 'valid' beats 'unverifiable' beats
    * 'invalid', so a url that ever probed valid stays valid. (A probe table
    * SHOULD be unique per url, but a retrying probe fleet can emit
    * conflicting rows; joining them raw would duplicate triples.)
    * `applyUrlProbes` collapses through this aggregate; `enrichAll` applies
    * the same rule to its carried verdicts in-group.
    */
  private[spark] def collapseProbes(probes: DataFrame): DataFrame =
    probes.groupBy("url")
      .agg(F.max_by(F.struct("status", "canonical_url"),
        F.struct("status", "canonical_url")).as("b"))
      .select(F.col("url"), F.col("b.status").as("status"),
        F.col("b.canonical_url").as("canonical_url"))

  /** One verdict per screenshot url: any live verdict beats a dead one; a
    * NULL live value is no verdict at all (the url stays unprobed rather
    * than crashing the aggregate or reading as dead).
    */
  private[spark] def collapseShots(sp: DataFrame): DataFrame =
    sp.where(F.col("live").isNotNull)
      .groupBy("url").agg(F.max("live").as("live"))

  /** URL-probe promotion in its relational form — the per-field rules of
    * `check_upstream_metadata` (/root/reference/src/lib.rs:3991-4156) joined
    * against a probe-status side table (url, status, canonical_url), status ∈
    * valid | invalid | unverifiable:
    *   - valid:   object replaced by the canonical URL; Repository promotes
    *     only Confident → Certain, the other URL fields promote ≥ Likely →
    *     Certain
    *   - invalid: the triple is deleted
    *   - unverifiable (or unprobed): untouched
    *   - Repository-Browse certainty sync (lib.rs:4007-4023): when a
    *     Repository probed valid, the browse URL derived from its canonical
    *     form, if equal to the subject's Repository-Browse object, syncs
    *     that browse datum's certainty to the repository's — one extra
    *     broadcast join on the valid-repository subset, batched into the
    *     same pass
    *   - Screenshots tri-state (lib.rs:4129-4155), when `screenshotProbes`
    *     (url, live:boolean) is given: a Likely Screenshots list keeps its
    *     live URLs, drops dead ones, and promotes to Certain unless any URL
    *     went unprobed/inconclusive (→ falls back to Likely). Runs on the
    *     tiny Screenshots subset only.
    * Exactly the semantics of the pure `Checks.applyProbes`, table-scaled.
    *
    * The browse-sync side re-reads the input filtered to valid-probed
    * repositories — a pruned scan when the input is a stored table (the
    * intended use); composing over a live pipeline re-executes it, which is
    * why `enrichAll` runs these rules in its fused group pass instead of
    * through this operator.
    */
  def applyUrlProbes(
      canon: Dataset[CanonTriple],
      probes: DataFrame,
      screenshotProbes: Option[DataFrame] = None
  ): Dataset[CanonTriple] = {
    import canon.sparkSession.implicits._
    val checked = Seq("Repository", "Homepage", "Repository-Browse",
      "Bug-Database", "Bug-Submit")
    val cd = canon.toDF()
    val probes1 = collapseProbes(probes)
    // size-guarded dissemination: probe fleets usually emit compact tables
    // (→ broadcast), but a fleet-scale verdict table must shuffle-join on
    // url instead of being replicated to every executor. No hint: the
    // choice is Catalyst/AQE's autoBroadcastJoinThreshold — the engine's
    // own size statistics — so the operator cannot be misused by handing
    // it a huge probe table.
    // pre-replacement rows (original obj kept — the sync comparison below
    // must see the ORIGINAL browse object, exactly like the pure twin which
    // syncs before the browse field's own probe is applied)
    val joined = cd.join(probes1,
        cd("obj") === probes1("url") &&
        cd("pred").isin(checked.map(x => x: Any): _*), "left")
      .where(F.col("status").isNull || F.col("status") =!= "invalid")
      .select(F.col("subj"), F.col("pred"), cd("obj").as("obj"),
        F.col("obj_json"), F.col("certainty"), F.col("origin"),
        F.col("status"), F.col("canonical_url"))
    // browse-certainty sync source: derive the browse URL only on the
    // valid-Repository subset (tiny), carrying the repository's
    // POST-promotion certainty, and broadcast it back. The derivation is a
    // native expression (graft.functions.BrowseUrlFromRepo), not a ScalaUDF.
    graft.functions.BrowseUrlFromRepo.register(canon.sparkSession)
    val sync = joined
      .where(F.col("pred") === "Repository" && F.col("status") === "valid")
      .select(F.col("subj"),
        F.expr("browse_url_from_repo(canonical_url)").as("_derived"),
        F.when(F.col("certainty") === Certainty.Confident, Certainty.Certain)
          .otherwise(F.col("certainty")).as("_repo_cert"))
      .where(F.col("_derived").isNotNull)
    // reference order per row: (1) sync the browse certainty, (2) apply the
    // row's own probe — canonical replacement + promotion over the SYNCED
    // certainty (lib.rs:4007-4023 runs before the per-field loop :4039-4128)
    val cert1 = F.when(F.col("pred") === "Repository-Browse" &&
        F.col("obj") === F.col("_derived"), F.col("_repo_cert"))
      .otherwise(F.col("certainty"))
    // the sync table is one row per valid-probed Repository SUBJECT — it
    // scales with the probe fleet, so like the probe join it carries no
    // hint and Catalyst/AQE's own size statistics pick the strategy (a
    // hard-coded F.broadcast here was the round-6 escape-hatch scale hazard)
    val synced = joined.join(sync, Seq("subj"), "left")
      .select(
        F.col("subj"), F.col("pred"),
        F.when(F.col("status") === "valid", F.col("canonical_url"))
          .otherwise(F.col("obj")).as("obj"),
        F.col("obj_json"),
        F.when(F.col("status") === "valid",
            F.when(F.col("pred") === "Repository",
                F.when(cert1 === Certainty.Confident,
                  Certainty.Certain).otherwise(cert1))
              .otherwise(
                F.when(cert1 >= Certainty.Likely,
                  Certainty.Certain).otherwise(cert1)))
          .otherwise(cert1).as("certainty"),
        F.col("origin"))
    screenshotProbes match {
      case None => synced.as[CanonTriple]
      case Some(sp) =>
        // only a Likely Screenshots LIST is re-verified; everything else —
        // including a row whose obj_json fails to parse as a string array —
        // passes through untouched, exactly like the pure twin's UStrings
        // pattern match
        val parsed = F.from_json(F.col("obj_json"),
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType))
        // coalesce: a NULL obj_json (e.g. triples read back from externally
        // written parquet with a nullable column) must make the predicate
        // FALSE, not SQL NULL — a null predicate fails both where(isShot)
        // and where(!isShot) and would silently delete the row
        val isShot = F.coalesce(
          F.col("pred") === "Screenshots" &&
          F.col("certainty") === Certainty.Likely &&
          F.col("obj_json").startsWith("[") && parsed.isNotNull,
          F.lit(false))
        // duplicate probe rows for one url collapse deterministically:
        // any `live` verdict beats a dead one (max over boolean)
        val spb = F.broadcast(collapseShots(sp))
        // posexplode_OUTER: an EMPTY list must keep its subject (one null
        // row) — plain posexplode would silently delete the whole datum
        val exploded = synced.where(isShot)
          .select(F.col("subj"), F.col("pred"), F.col("origin"),
            F.posexplode_outer(parsed).as(Seq("pos", "u")))
        val reverified = exploded
          .join(spb, exploded("u") === spb("url"), "left")
          .groupBy("subj", "pred", "origin")
          .agg(
            F.to_json(F.transform(
              F.array_sort(F.collect_list(F.when(F.col("live") === true,
                F.struct(F.col("pos"), F.col("u"))))),
              x => x("u"))).as("obj_json"),
            // inconclusive = a REAL url with no probe verdict; the empty
            // list's null placeholder row is vacuously conclusive
            F.max((F.col("u").isNotNull && F.col("live").isNull).cast("int"))
              .as("_inconclusive"))
          .select(F.col("subj"), F.col("pred"), F.lit("").as("obj"),
            F.col("obj_json"),
            F.when(F.col("_inconclusive") === 1, Certainty.Likely)
              .otherwise(Certainty.Certain).as("certainty"),
            F.col("origin"))
        synced.where(!isShot).unionByName(reverified).as[CanonTriple]
    }
  }

  /** Resume manifest: subjects hash into `buckets`; completed buckets are
    * recorded in a manifest table, and a restarted job anti-joins them away
    * without re-emitting committed partitions (north rule).
    *
    * The bucket hash is the first 15 hex chars (60 bits) of md5(subj) — an
    * engine-neutral function any SQL engine reproduces
    * (`CAST('0x'||substring(md5(subj),1,15) AS UBIGINT) % buckets`), so the
    * resume partitioning itself is oracle-checkable.
    */
  def bucketOf(subjCol: org.apache.spark.sql.Column, buckets: Int): org.apache.spark.sql.Column =
    F.pmod(
      F.conv(F.substring(F.md5(subjCol), 1, 15), 16, 10).cast("long"),
      F.lit(buckets.toLong)).cast("int")

  def resumeFilter(
      pages: DataFrame,
      completedBuckets: Seq[Int],
      buckets: Int
  ): DataFrame =
    pages.where(!pageBucket(F.col("url"), buckets)
      .isin(completedBuckets.map(x => x: Any): _*))

  /** A page's bucket: its subject's, and for a page without a subject (a
    * null url, or a url with no project prefix) the bucket of "", so its
    * lineage row lands in a real bucket under the manifest and a resumed run
    * keeps or drops it with that bucket.
    */
  private def pageBucket(url: org.apache.spark.sql.Column, buckets: Int): org.apache.spark.sql.Column =
    bucketOf(F.coalesce(subjCol(url), F.lit("")), buckets)

  /** Page lineage per subject bucket: (bucket, input_rows, emitted), where
    * `emitted` counts the candidate pages, from a pruned url-only scan.
    * KgJob writes it per bucket; summed over the buckets it is the whole
    * input's lineage.
    */
  def lineage(pages: DataFrame, buckets: Int): DataFrame =
    pages.select(pageBucket(F.col("url"), buckets).as("bucket"),
        candidateUrlCol(F.col("url")).as("candidate"))
      .groupBy("bucket")
      .agg(F.count(F.lit(1)).as("input_rows"), F.count_if(F.col("candidate")).as("emitted"))

  // ---------- Catalyst forms of splitSubject / isCandidate ----------
  // The engine's url algebra: `candidateRows`, the resume filter and
  // `lineage` run it per input row at crawl scale, where a ScalaUDF or a
  // typed step breaks whole-stage codegen and blocks filter pushdown, so it
  // is expressed as codegen'd string expressions. Equivalence with the
  // Scala reference forms is property-tested (SubjectExprSpec) over fixture
  // relpaths and adversarial synthetic urls.

  /** `splitSubject(url)._1` as an expression: the minimal prefix
    * scheme://host/seg1/ ("" when the url has no subject, matching None).
    */
  def subjCol(url: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    F.regexp_extract(url, "(?s)^(.*?://[^/]*/[^/]*/)", 1)

  /** `isCandidate` as one regex over a whole relpath. The multi-segment
    * patterns tolerate trailing slashes exactly like the Scala `split('/')`
    * (which drops trailing empty segments); every other pattern is one
    * top-level segment. A readme-like file's extension is the text after
    * its last dot, so it is excluded iff its name ends in one of the three.
    */
  private val candidateRelpath: String =
    ((staticNames ++ securityNames + "debian/source/format").toSeq.sorted
      .map(java.util.regex.Pattern.quote) ++ Seq(
      "debian/patches/.*\\.patch",
      "[^/]*\\.egg-info/PKG-INFO/*",
      "[^/]*\\.dist-info/METADATA/*",
      "[^/]*/DESCRIPTION/*",
      "setup\\.py",
      "[^/]*\\.(?:gemspec|doap|metainfo\\.xml|cabal|nuspec|opam)",
      "doap_XML_[^/]*\\.xml",
      "(?iu:readme|hacking|contributing)(?![^/]*(?:~|\\.(?iu:html|pdf|xml))\\z)[^/]*"))
      .mkString("(?:", "|", ")")

  /** `splitSubject(url).exists(sr => isCandidate(sr._2))` as an expression
    * (the per-url candidate test over raw page urls): one regex match per
    * url. The atomic group pins the subject to the first "://", as
    * `subjCol` does; `\z`, unlike `$`, rejects a trailing line break.
    */
  def candidateUrlCol(url: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    url.rlike(s"(?s)^(?>.*?://)[^/]*+/[^/]*+/$candidateRelpath\\z")
}
