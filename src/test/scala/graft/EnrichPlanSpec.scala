package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{functions => F}
import graft.spark.{KgEngine, SynthPages}

/** Physical-plan shape of the enrichment operators — the properties that
  * decide whether they survive a 100× scale-up:
  *   - enrichFromRegistry's completeness gate must be a LEFT ANTI join (the
  *     registry work stays proportional to the INCOMPLETE subjects);
  *   - applyUrlProbes must broadcast the compact probe table (no shuffle of
  *     the triples for a small side input);
  *   - the staged operators canonicalize through the max_by aggregate, not
  *     a window-sort; enrichAll takes its argmaxes in its one subject pass,
  *     with no aggregate outside whole-stage codegen.
  */
class EnrichPlanSpec extends AnyFunSuite with SparkSuite {

  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    .where("doc_id < 64")

  private def canon = KgEngine.extractCanonical(spark, SynthPages.fromDocuments(docs))

  test("enrichFromRegistry gates through a left-anti join and aggregates with max_by") {
    val registry = docs.select(
      F.concat(F.lit("https://replay.invalid/proj"), F.col("doc_id"), F.lit("/")).as("subj"),
      F.lit("Version").as("pred"), F.lit("9.9.9").as("obj"))
    val out = KgEngine.enrichFromRegistry(canon, registry, Seq("Version"), 1)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), s"no anti-join gate in plan:\n$plan")
    assert(plan.contains("max_by"), "canonicalize must be the max_by aggregate")
    assert(!plan.contains("Window"), "lattice argmax must not lower to a window sort")
  }

  test("applyUrlProbes broadcasts a small probe table") {
    val probes = docs.select(
      F.concat(F.lit("https://proj"), F.col("doc_id"), F.lit(".example.com/")).as("url"),
      F.lit("valid").as("status"),
      F.concat(F.lit("https://proj"), F.col("doc_id"), F.lit(".example.com/")).as("canonical_url"))
    val plan = KgEngine.applyUrlProbes(canon, probes)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"probe join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"))
  }

  test("applyUrlProbes shuffle-joins a fleet-scale probe table (size guard)") {
    // the guard is Catalyst's own size threshold: a probe table above
    // autoBroadcastJoinThreshold must NOT be replicated to every executor.
    // Model "above threshold" by disabling auto-broadcast — the operator
    // hard-coding F.broadcast would make this test fail.
    val probes = docs.select(
      F.concat(F.lit("https://proj"), F.col("doc_id"), F.lit(".example.com/")).as("url"),
      F.lit("valid").as("status"),
      F.concat(F.lit("https://proj"), F.col("doc_id"), F.lit(".example.com/")).as("canonical_url"))
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val plan = KgEngine.applyUrlProbes(canon, probes)
        .queryExecution.executedPlan.toString
      // the url-keyed probe join must shuffle (the per-subject sync
      // side-table — a tiny derived subset — may still broadcast on subj)
      assert(plan.contains("SortMergeJoin [obj") ||
             plan.contains("ShuffledHashJoin [obj"),
        s"no shuffled probe join on obj=url in plan:\n$plan")
      assert(!plan.contains("BroadcastHashJoin [obj"),
        s"probe join still broadcast with threshold disabled:\n$plan")
    }
    // results are join-strategy-invariant
    val broadcastRows = KgEngine.applyUrlProbes(canon, probes).collect().toSet
    val shuffledRows = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      KgEngine.applyUrlProbes(canon, probes).collect().toSet
    }
    assert(broadcastRows == shuffledRows)
  }

  test("conflicting duplicate probe rows collapse deterministically, no row fan-out") {
    import spark.implicits._
    val canonRows = Seq(graft.spark.Model.CanonTriple(
      "s1", "Homepage", "https://h.example.com/", "", 1, "")).toDS()
    // a retrying probe fleet emitted all three outcomes for the same url:
    // 'valid' must win (a url that ever probed valid stays valid) and the
    // triple must appear exactly once
    val probes = Seq(
      ("https://h.example.com/", "invalid", "https://h.example.com/"),
      ("https://h.example.com/", "valid", "https://h2.example.com/"),
      ("https://h.example.com/", "unverifiable", "https://h.example.com/")
    ).toDF("url", "status", "canonical_url")
    val out = KgEngine.applyUrlProbes(canonRows, probes).collect()
    assert(out.length == 1)
    assert(out.head.obj == "https://h2.example.com/")
    assert(out.head.certainty == 3) // Likely promoted to Certain
  }

  test("enrichAll takes its argmaxes in ONE subject pass over ONE union exchange") {
    // the staged chain re-shuffled the full triple table once per stage;
    // enrichAll unions the raw streams and shuffles them ONCE, on subj, and
    // the subject pass takes every argmax (homepage, per-pred lattice,
    // probe verdicts) in Scala, so no string-buffered aggregate runs: a
    // string max_by plans as a SortAggregate and a collect_set as an
    // ObjectHashAggregate, neither of which whole-stage codegen compiles.
    // AQE is disabled so the final plan is inspectable pre-execution.
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val registry = docs.select(
        F.concat(F.lit("https://replay.invalid/proj"), F.col("doc_id"), F.lit("/")).as("subj"),
        F.lit("Version").as("pred"), F.lit("9.9.9").as("obj"))
      val fetched = docs.select(
        F.concat(F.lit("https://proj"), F.col("doc_id"), F.lit(".example.com/")).as("url"),
        F.lit("<html><a href=\"https://github.com/o/r\">GitHub</a></html>").as("html"))
      val probes = docs.where(F.col("doc_id") % 8 === 6).select(
        F.concat(F.lit("https://proj"), F.col("doc_id"), F.lit(".example.com/")).as("url"),
        F.lit("valid").as("status"),
        F.concat(F.lit("https://proj"), F.col("doc_id"), F.lit(".example.com/")).as("canonical_url"))
      val out = KgEngine.enrichAll(canon, registry, Seq("Version"), 1, fetched, probes)
      import org.apache.spark.sql.catalyst.expressions.Attribute
      import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
      import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
      import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
      val plan = out.queryExecution.executedPlan
      // the full triple stream feeds exactly ONE exchange, keyed on subj
      // alone
      val unionFed = plan.collect {
        case e: ShuffleExchangeExec
            if e.child.collect { case u if u.nodeName == "Union" => u }.nonEmpty => e
      }
      assert(unionFed.size == 1,
        s"expected exactly one union-fed exchange, found ${unionFed.size}:\n" +
          plan.toString.take(4000))
      assert((unionFed.head.outputPartitioning match {
        case HashPartitioning(Seq(a: Attribute), _) => a.name == "subj"
        case _ => false
      }), s"the union exchange must be keyed on subj alone: ${unionFed.head.outputPartitioning}")
      // the candidate-url branch must SHARE the union's shuffle
      // (ReuseExchange), not re-execute the union's upstream
      assert(plan.collect { case r: ReusedExchangeExec => r }.nonEmpty,
        "candidate branch must reuse the union exchange (found no ReusedExchange)")
      val uncompiled = plan.collect {
        case a: SortAggregateExec => a
        case a: ObjectHashAggregateExec => a
      }
      assert(uncompiled.isEmpty, s"non-codegen aggregates in enrichAll: ${uncompiled.map(_.nodeName)}")
      // the fused pass shuffled 7 times when it ran the lattice max_by, the
      // homepage max_by and the probe collapse as aggregates (this plan,
      // extraction included); the one subject pass may not shuffle more
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.size <= 7,
        s"${shuffles.size} shuffles:\n" + plan.toString.take(4000))
    }
  }

  test("enrichAll collapses conflicting duplicate probe rows in-group, no row fan-out") {
    import spark.implicits._
    val canonRows = Seq(graft.spark.Model.CanonTriple(
      "s1", "Homepage", "https://h.example.com/", "", 1, "")).toDS()
    // the applyUrlProbes case through the fused pass: the raw probe rows
    // ride to the subject as carriers, and 'valid' must still win once
    val probes = Seq(
      ("https://h.example.com/", "invalid", "https://h.example.com/"),
      ("https://h.example.com/", "valid", "https://h2.example.com/"),
      ("https://h.example.com/", "unverifiable", "https://h.example.com/")
    ).toDF("url", "status", "canonical_url")
    val registry = Seq.empty[(String, String, String)].toDF("subj", "pred", "obj")
    val empty = Seq.empty[(String, String)].toDF("url", "html")
    val out = KgEngine.enrichAll(canonRows, registry, Seq("Version"), 1, empty, probes).collect()
    assert(out.length == 1)
    assert(out.head.obj == "https://h2.example.com/")
    assert(out.head.certainty == 3) // Likely promoted to Certain
    assert(out.toSeq == KgEngine.applyUrlProbes(canonRows, probes).collect().toSeq)
  }

  test("only the winning homepage is scraped: a losing registry homepage adds nothing") {
    import spark.implicits._
    // the registry's Homepage passes the gate (Version is not Certain) but
    // loses the lattice to the Certain canon homepage; both pages are in
    // the fetched corpus, and only the winner's links may reach the output
    val subj = "https://replay.invalid/projH/"
    val canonRows = Seq(
      graft.spark.Model.CanonTriple(subj, "Name", "projH", "", 3, "fixture"),
      graft.spark.Model.CanonTriple(subj, "Homepage", "https://win.example.com/", "", 3, "fixture")
    ).toDS()
    val registry = Seq((subj, "Homepage", "https://lose.example.com/"))
      .toDF("subj", "pred", "obj")
    val fetched = Seq(
      ("https://win.example.com/",
        "<html><a href=\"https://github.com/win-org/win-repo\">GitHub</a></html>"),
      ("https://lose.example.com/",
        "<html><a href=\"https://github.com/lose-org/lose-repo\">GitHub</a>" +
          "<a href=\"https://bugs.example.com/lose\">Bug tracker</a></html>"))
      .toDF("url", "html")
    val probes = Seq.empty[(String, String, String)].toDF("url", "status", "canonical_url")
    val fused = KgEngine.enrichAll(canonRows, registry, Seq("Homepage", "Version"), 1,
      fetched, probes).collect()
    assert(fused.exists(t => t.pred == "Repository" &&
      t.obj == "https://github.com/win-org/win-repo" && t.origin == "homepage-scrape"),
      s"the winning homepage was not scraped: ${fused.toList}")
    assert(!fused.exists(t => Option(t.obj).exists(_.contains("lose")) ||
      Option(t.obj_json).exists(_.contains("lose"))),
      s"the losing homepage's links reached the output: ${fused.toList}")
    val staged = KgEngine.applyUrlProbes(
      KgEngine.extrapolatePost(
        KgEngine.enrichFromHomepages(
          KgEngine.enrichFromRegistry(canonRows, registry, Seq("Homepage", "Version"), 1),
          fetched),
        Seq("external-registry", "homepage-scrape")),
      probes).collect()
    def k(ts: Array[graft.spark.Model.CanonTriple]) =
      ts.map(t => (t.subj, t.pred, t.obj, t.obj_json, t.certainty)).sorted.toSeq
    assert(k(fused) == k(staged))
  }

  test("enrichAll never materializes the probe tables on the driver") {
    import spark.implicits._
    // a probe table whose evaluation THROWS: constructing the enrichment
    // plan must not touch it (the old fused pass collected the probes to
    // build broadcast maps — a driver bottleneck proportional to the probe
    // fleet's url coverage); only executing the plan may fail
    val bomb = F.udf { () =>
      throw new RuntimeException("probe table must stay lazy"); "x"
    }
    val probes = docs.select(bomb().as("url"),
      F.lit("valid").as("status"), bomb().as("canonical_url"))
    val shots = docs.select(bomb().as("url"), F.lit(true).as("live"))
    val registry = docs.select(
      F.concat(F.lit("https://replay.invalid/proj"), F.col("doc_id"), F.lit("/")).as("subj"),
      F.lit("Version").as("pred"), F.lit("9.9.9").as("obj"))
    val fetched = docs.limit(0).select(F.lit("").as("url"), F.lit("").as("html"))
    // construction (incl. physical planning) runs no probe-side job
    val out = KgEngine.enrichAll(canon, registry, Seq("Version"), 1,
      fetched, probes, screenshotProbes = Some(shots))
    out.queryExecution.executedPlan // force planning — still lazy
    val err = intercept[Exception](out.collect())
    def rootMsg(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("must stay lazy")) ||
        rootMsg(t.getCause))
    assert(rootMsg(err), s"expected the bomb to fire only at execution: $err")
  }

  test("fused check sees probe verdicts for urls first DERIVED by extrapolation") {
    import spark.implicits._
    // the subject gains a Homepage from the registry; the in-group
    // extrapolation derives Repository from it; the probe fleet probed that
    // DERIVED url invalid — the fused pass must delete it, exactly like the
    // staged extrapolatePost → applyUrlProbes chain (verdicts join on the
    // candidate-url closure, not just the pre-extrapolation objs)
    val canonRows = Seq(graft.spark.Model.CanonTriple(
      "https://replay.invalid/projD/", "Name", "projD", "", 3, "fixture")).toDS()
    val registry = Seq(("https://replay.invalid/projD/", "Homepage",
      "https://github.com/derived-org/derived-repo")).toDF("subj", "pred", "obj")
    val probes = Seq(("https://github.com/derived-org/derived-repo", "invalid",
      "")).toDF("url", "status", "canonical_url")
    val empty = Seq.empty[(String, String)].toDF("url", "html")
    val fused = KgEngine.enrichAll(canonRows, registry, Seq("Homepage"), 1,
      empty, probes).collect()
    val staged = KgEngine.applyUrlProbes(
      KgEngine.extrapolatePost(
        KgEngine.enrichFromRegistry(canonRows, registry, Seq("Homepage"), 1),
        Seq("external-registry")),
      probes).collect()
    def k(ts: Array[graft.spark.Model.CanonTriple]) =
      ts.map(t => (t.subj, t.pred, t.obj, t.obj_json, t.certainty)).sorted.toSeq
    // the derived Repository existed pre-check (extrapolation ran) …
    assert(staged.exists(_.pred === "Repository") === false)
    // … and the fused form deleted it too, plus full equality
    assert(!fused.exists(_.pred == "Repository"),
      s"derived Repository must be deleted by its probe verdict: ${k(fused)}")
    assert(k(fused) == k(staged))
  }

  test("probe verdicts reach urls TWO derivation hops from the enriched datum") {
    import spark.implicits._
    // registry Bug-Submit (…/issues/new) → hop 1 Bug-Database (…/issues) →
    // hop 2 Repository (the repo root) — three TEXTUALLY DISTINCT urls, so
    // a verdict on the hop-2 url can only arrive if the candidate closure
    // CHAINS through the rules rather than stopping at first-order
    // derivations. The probe fleet covered only the hop-2 Repository
    // (invalid): the fused pass must delete it, exactly like the staged
    // chain.
    val subj = "https://replay.invalid/projC/"
    val canonRows = Seq(graft.spark.Model.CanonTriple(
      subj, "Name", "projC", "", 3, "fixture")).toDS()
    val registry = Seq((subj, "Bug-Submit",
      "https://github.com/chain-org/chain-repo/issues/new")).toDF("subj", "pred", "obj")
    val probes = Seq(("https://github.com/chain-org/chain-repo", "invalid", ""))
      .toDF("url", "status", "canonical_url")
    val empty = Seq.empty[(String, String)].toDF("url", "html")
    val fused = KgEngine.enrichAll(canonRows, registry, Seq("Bug-Submit"), 1,
      empty, probes).collect()
    val staged = KgEngine.applyUrlProbes(
      KgEngine.extrapolatePost(
        KgEngine.enrichFromRegistry(canonRows, registry, Seq("Bug-Submit"), 1),
        Seq("external-registry")),
      probes).collect()
    // sanity: the chain actually derived distinct urls pre-check
    val stagedNoProbe = KgEngine.extrapolatePost(
      KgEngine.enrichFromRegistry(canonRows, registry, Seq("Bug-Submit"), 1),
      Seq("external-registry")).collect()
    assert(stagedNoProbe.exists(t => t.pred == "Bug-Database" &&
      t.obj == "https://github.com/chain-org/chain-repo/issues"))
    assert(stagedNoProbe.exists(t => t.pred == "Repository" &&
      t.obj == "https://github.com/chain-org/chain-repo"))
    // the hop-2 verdict must land in the fused form
    assert(!fused.exists(_.pred == "Repository"),
      s"hop-2 Repository must be deleted by its probe verdict: ${fused.toList}")
    def k(ts: Array[graft.spark.Model.CanonTriple]) =
      ts.map(t => (t.subj, t.pred, t.obj, t.obj_json, t.certainty)).sorted.toSeq
    assert(k(fused) == k(staged))
  }

  test("no screenshot fleet: Likely Screenshots lists pass through the fused check") {
    import spark.implicits._
    // url probes ran (the subject's Homepage probes valid) but NO screenshot
    // fleet did: the Likely Screenshots list must pass through untouched —
    // treating 'no fleet' as 'all probes inconclusive' would empty the list
    val canonRows = Seq(
      graft.spark.Model.CanonTriple("s1", "Homepage", "https://h.example.com/", "", 1, "f"),
      graft.spark.Model.CanonTriple("s1", "Screenshots", "",
        "[\"https://img.example.com/1.png\"]", 1, "f")).toDS()
    val registry = Seq(("s1", "Version", "1.0")).toDF("subj", "pred", "obj")
    val probes = Seq(("https://h.example.com/", "valid", "https://h.example.com/"))
      .toDF("url", "status", "canonical_url")
    val empty = Seq.empty[(String, String)].toDF("url", "html")
    val out = KgEngine.enrichAll(canonRows, registry, Seq("Version"), 1,
      empty, probes).collect()
    val shot = out.filter(_.pred == "Screenshots")
    assert(shot.length == 1)
    assert(shot.head.obj_json == "[\"https://img.example.com/1.png\"]")
    assert(shot.head.certainty == graft.core.Certainty.Likely)
    assert(out.filter(_.pred == "Homepage").head.certainty == graft.core.Certainty.Certain)
  }

  test("a homepage first learned from the registry is scraped in the SAME batch") {
    import spark.implicits._
    // the homepage exists ONLY in the registry side; the fetched corpus has
    // it; the scrape must fire in this batch (post-registry-merge homepage
    // argmax feeds the scrape join), matching the staged chain
    val canonRows = Seq(graft.spark.Model.CanonTriple(
      "https://replay.invalid/projS/", "Name", "projS", "", 3, "fixture")).toDS()
    val registry = Seq(("https://replay.invalid/projS/", "Homepage",
      "https://projS.example.com/")).toDF("subj", "pred", "obj")
    val fetched = Seq(("https://projS.example.com/",
      "<html><a href=\"https://github.com/sorg/srepo\">GitHub</a></html>"))
      .toDF("url", "html")
    val probes = Seq.empty[(String, String, String)].toDF("url", "status", "canonical_url")
    val fused = KgEngine.enrichAll(canonRows, registry, Seq("Homepage"), 1,
      fetched, probes).collect()
    val staged = KgEngine.applyUrlProbes(
      KgEngine.extrapolatePost(
        KgEngine.enrichFromHomepages(
          KgEngine.enrichFromRegistry(canonRows, registry, Seq("Homepage"), 1),
          fetched),
        Seq("external-registry", "homepage-scrape")),
      probes).collect()
    assert(fused.exists(t => t.pred == "Repository" &&
      t.obj == "https://github.com/sorg/srepo" && t.origin == "homepage-scrape"),
      s"registry-gained homepage not scraped same-batch: ${fused.toList}")
    def k(ts: Array[graft.spark.Model.CanonTriple]) =
      ts.map(t => (t.subj, t.pred, t.obj, t.obj_json, t.certainty)).sorted.toSeq
    assert(k(fused) == k(staged))
  }

  test("enrichAll reads a registry that cannot emit Homepage in one branch") {
    // the scrape candidates take the registry's Homepage rows only when
    // supportedFields holds Homepage; otherwise that branch is empty but
    // would still plan a second scan and parse of the registry. Each pred
    // is a field of a generated struct, as in a parsed registry payload,
    // so the optimizer cannot prove the Homepage branch empty on its own
    val registry = spark.range(64).select(
        F.concat(F.lit("https://replay.invalid/proj"), F.col("id"), F.lit("/")).as("subj"),
        F.explode(F.array(Seq("Version", "Homepage").map(p => F.struct(F.lit(p).as("pred"),
          F.concat(F.lit("https://proj"), F.col("id"), F.lit(".example.com/")).as("obj"))): _*))
          .as("d"))
      .select(F.col("subj"), F.col("d.pred").as("pred"), F.col("d.obj").as("obj"))
    // a non-empty corpus: an empty one would prune the whole scrape side
    val fetched = docs.select(
      F.concat(F.lit("https://proj"), F.col("doc_id"), F.lit(".example.com/")).as("url"),
      F.lit("<html><a href=\"https://github.com/o/r\">GitHub</a></html>").as("html"))
    val probes = docs.limit(0).select(F.lit("").as("url"), F.lit("").as("status"),
      F.lit("").as("canonical_url"))
    import org.apache.spark.sql.execution.RangeExec
    withConf("spark.sql.adaptive.enabled" -> "false") {
      def reads(fields: Seq[String]) = KgEngine.enrichAll(canon, registry, fields, 1,
        fetched, probes).queryExecution.executedPlan.collect { case r: RangeExec => r }.size
      assert(reads(Seq("Version")) == 1)
      assert(reads(Seq("Version", "Homepage")) == 2)
    }
  }

  test("kg_full_enrich plans no result sort and parses the pypi registry in one kernel") {
    // the query result is a multiset, so a final orderBy is a range
    // exchange, its sampling job and a sort of dead work; the registry
    // parse is a generator over a ScalaKernel, not a typed flatMap
    val dir = java.nio.file.Files.createTempDirectory("kg_full_enrich_plan").toString
    docs.write.parquet(s"$dir/documents.parquet")
    // AQE off: the plan is final before execution, with the candidate
    // branch's copy of the union exchange already a ReusedExchange
    val plan = withConf("spark.sql.adaptive.enabled" -> "false") {
      SparkEntry.queries("kg_full_enrich")(spark, dir).queryExecution.executedPlan
    }
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    val ranged = plan.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    assert(ranged.isEmpty, s"result sort in kg_full_enrich:\n$plan")
    import org.apache.spark.sql.execution.{DeserializeToObjectExec, GenerateExec, MapPartitionsExec}
    val registry = SparkEntry.pypiRegistry(spark, dir).queryExecution.executedPlan
    val typed = registry.collect {
      case d: DeserializeToObjectExec => d
      case m: MapPartitionsExec => m
    }
    assert(typed.isEmpty, s"typed registry parse:\n$registry")
    val parses = plan.collect {
      case g: GenerateExec if g.generator.toString.contains("pypi_registry_datums") => g
    }
    assert(parses.size == 1, s"kg_full_enrich must parse the registry once:\n$plan")
  }

  test("browse sync derivation is a native expression, not a ScalaUDF") {
    val probes = docs.select(
      F.concat(F.lit("https://proj"), F.col("doc_id"), F.lit(".example.com/")).as("url"),
      F.lit("valid").as("status"),
      F.concat(F.lit("https://proj"), F.col("doc_id"), F.lit(".example.com/")).as("canonical_url"))
    val plan = KgEngine.applyUrlProbes(canon, probes)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), s"ScalaUDF found in applyUrlProbes plan:\n$plan")
    assert(plan.contains("browse_url_from_repo"),
      "browse derivation must appear as the native expression")
  }

  test("enrichAll is result-identical to the staged enrichment chain") {
    val registry = docs.select(
      F.concat(F.lit("https://replay.invalid/proj"), F.col("doc_id"), F.lit("/")).as("subj"),
      F.lit("Version").as("pred"), F.lit("9.9.9").as("obj"))
    val fetched = docs.select(
      F.concat(F.lit("https://proj"), F.col("doc_id"), F.lit(".example.com/")).as("url"),
      F.concat(F.lit("<html><a href=\"https://github.com/org"),
        F.pmod(F.col("doc_id"), F.lit(97)), F.lit("/proj"), F.col("doc_id"),
        F.lit("\">GitHub</a></html>")).as("html"))
    val probes = docs.where(F.col("doc_id") % 8 === 0).select(
      F.concat(F.lit("https://proj"), F.col("doc_id"), F.lit(".example.com/")).as("url"),
      F.lit("invalid").as("status"),
      F.concat(F.lit("https://proj"), F.col("doc_id"), F.lit(".example.com/")).as("canonical_url"))
    val single = KgEngine.enrichAll(canon, registry, Seq("Version"), 1,
        fetched, probes)
      .collect().map(t => (t.subj, t.pred, t.obj, t.obj_json, t.certainty)).sorted
    // the staged chain extrapolates the enriched subjects before the check,
    // as the fused pass does in-group
    val staged = KgEngine.applyUrlProbes(
        KgEngine.extrapolatePost(
          KgEngine.enrichFromHomepages(
            KgEngine.enrichFromRegistry(canon, registry, Seq("Version"), 1),
            fetched),
          Seq("external-registry", "homepage-scrape")),
        probes)
      .collect().map(t => (t.subj, t.pred, t.obj, t.obj_json, t.certainty)).sorted
    assert(single.length == staged.length)
    assert(single.toSeq == staged.toSeq)
  }

  test("browse sync applies before the browse field's own promotion (reference order)") {
    import spark.implicits._
    // Repository at Likely probes valid (stays Likely — only Confident
    // promotes); its derived browse matches the browse triple, which ALSO
    // probes valid: the sync must set Likely FIRST, then the browse's own
    // promotion lifts it to Certain. promote-then-sync would leave 1; no
    // sync at all would leave 0 — only the reference order yields 3.
    val canonRows = Seq(
      graft.spark.Model.CanonTriple("s1", "Repository", "https://github.com/o/r.git", "", 1, ""),
      graft.spark.Model.CanonTriple("s1", "Repository-Browse", "https://github.com/o/r", "", 0, "")
    ).toDS()
    val probes = Seq(
      ("https://github.com/o/r.git", "valid", "https://github.com/o/r.git"),
      ("https://github.com/o/r", "valid", "https://github.com/o/r")
    ).toDF("url", "status", "canonical_url")
    val out = KgEngine.applyUrlProbes(canonRows, probes).collect().sortBy(_.pred)
    assert(out.map(t => (t.pred, t.obj, t.certainty)).toList == List(
      ("Repository", "https://github.com/o/r.git", 1),
      ("Repository-Browse", "https://github.com/o/r", 3)))
    // the pure twin agrees rule for rule
    val pure = graft.pipeline.Checks.applyProbes(
      List(
        graft.core.Datum("Repository", graft.core.UStr("https://github.com/o/r.git"),
          Some(graft.core.Certainty.Likely), None),
        graft.core.Datum("Repository-Browse", graft.core.UStr("https://github.com/o/r"),
          Some(graft.core.Certainty.Possible), None)),
      (_, url) => graft.pipeline.Checks.Valid(url))
    assert(pure.map(d => (d.field, d.str.get, d.certainty.get)) == List(
      ("Repository", "https://github.com/o/r.git", 1),
      ("Repository-Browse", "https://github.com/o/r", 3)))
  }

  test("screenshots tri-state matches the pure Checks.applyProbes") {
    import spark.implicits._
    val canonRows = Seq(
      graft.spark.Model.CanonTriple("s1", "Screenshots", "", "[\"a\",\"b\",\"c\"]", 1, "o"),
      // a CERTAIN list is not re-verified — must pass through untouched
      graft.spark.Model.CanonTriple("s2", "Screenshots", "", "[\"x\"]", 3, "o"),
      // an EMPTY Likely list must survive (vacuously all-conclusive →
      // Certain, like the pure twin) — not silently vanish in the explode
      graft.spark.Model.CanonTriple("s3", "Screenshots", "", "[]", 1, "o"),
      // unparseable obj_json is not a string list → untouched passthrough
      graft.spark.Model.CanonTriple("s4", "Screenshots", "", "[oops", 1, "o"),
      // NULL obj_json (e.g. read back from externally written parquet with
      // a nullable column): the predicate must be FALSE, not SQL NULL — a
      // null predicate fails both branches and silently deletes the row
      graft.spark.Model.CanonTriple("s5", "Screenshots", "", null, 1, "o")
    ).toDS()
    val emptyProbes = Seq.empty[(String, String, String)]
      .toDF("url", "status", "canonical_url")
    val shotProbes = Seq(("a", true), ("b", false)).toDF("url", "live")
    val out = KgEngine.applyUrlProbes(canonRows, emptyProbes, Some(shotProbes))
      .collect().sortBy(_.subj)
    // c unprobed → dropped AND the list demoted back to Likely
    assert(out.map(t => (t.subj, t.obj_json, t.certainty)).toList == List(
      ("s1", "[\"a\"]", 1), ("s2", "[\"x\"]", 3),
      ("s3", "[]", 3), ("s4", "[oops", 1), ("s5", null, 1)))
    val pureProbe = Map("a" -> true, "b" -> false)
    val pure = graft.pipeline.Checks.applyProbes(
      List(graft.core.Datum("Screenshots", graft.core.UStrings(List("a", "b", "c")),
        Some(graft.core.Certainty.Likely), Some("o"))),
      (_, _) => graft.pipeline.Checks.Unverifiable,
      url => pureProbe.get(url))
    assert(pure.head.value == graft.core.UStrings(List("a")))
    assert(pure.head.certainty.contains(graft.core.Certainty.Likely))
  }

  test("enrichFromHomepages joins homepages to the fetched corpus before any scrape") {
    val fetched = docs.select(
      F.concat(F.lit("https://proj"), F.col("doc_id"), F.lit(".example.com/")).as("url"),
      F.lit("<html><a href=\"https://github.com/o/r\">GitHub</a></html>").as("html"))
    val out = KgEngine.enrichFromHomepages(canon, fetched)
    val plan = out.queryExecution.executedPlan.toString
    // the scrape's flatMap must sit ABOVE a join of (Homepage triples ⋈
    // fetched) — i.e. only matched pages are parsed, never the whole corpus
    assert(plan.contains("Join") || plan.contains("BroadcastHashJoin"),
      s"no join between homepages and fetched corpus:\n$plan")
    assert(plan.contains("max_by"))
  }
}
