package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{functions => F}
import graft.spark.KgEngine
import graft.spark.Model.CanonTriple

/** Archive-dispatch enrichment (lib.rs:3555-3650): each subject routes to a
  * provider by its OWN Archive and *-Project fields; payloads parse through
  * RegistryParsers; items enter the lattice at the provider's certainty —
  * Certain for the ThirdPartyRepository providers, the Archive datum's
  * certainty for SourceForge.
  */
class ArchiveDispatchSpec extends AnyFunSuite with SparkSuite {

  import graft.core.Certainty

  private def triple(subj: String, pred: String, obj: String,
                     cert: Int, origin: String = "fixture") =
    CanonTriple(subj, pred, obj, "", cert, origin)

  private val crateJson =
    """{"crate":{"name":"widget","homepage":"https://widget.example.com/",
      |"repository":"https://github.com/w/widget","description":"Widgets.",
      |"license":"MIT","newest_version":"2.0.0"}}""".stripMargin.replace("\n", "")

  private val cabalPayload =
    "name: widget\nversion: 2.0.0\nhomepage: https://widget.example.com/\n" +
    "bug-reports: https://github.com/w/widget/issues\n"

  private val peclHtml =
    """<html><body><a href="https://svn.php.net/widget">Browse Source</a>
      |<a href="https://bugs.php.net/widget">Package Bugs</a></body></html>"""
      .stripMargin.replace("\n", "")

  test("crates.io branch: Cargo-Crate routes to the crates payload at Certain") {
    import spark.implicits._
    val canon = Seq(
      triple("s1", "Archive", "crates.io", Certainty.Likely),
      triple("s1", "Cargo-Crate", "widget", Certainty.Likely)).toDS()
    val payloads = Seq(("crates.io", "widget", crateJson))
      .toDF("archive", "project", "payload")
    val out = KgEngine.enrichFromArchive(canon, payloads).collect()
    val hp = out.find(_.pred == "Homepage").get
    // ThirdPartyRepository providers cap at their OWN max certainty
    // (Certain), not the archive datum's (rust.rs:512)
    assert(hp.obj == "https://widget.example.com/" &&
      hp.certainty == Certainty.Certain)
    assert(out.find(_.pred == "Repository").get.obj == "https://github.com/w/widget")
  }

  test("SourceForge branch: items carry the ARCHIVE datum's certainty") {
    import spark.implicits._
    val canon = Seq(
      triple("s1", "Archive", "SourceForge", Certainty.Possible),
      triple("s1", "SourceForge-Project", "gtab", Certainty.Possible)).toDS()
    val payloads = Seq(("SourceForge",
      "gtab", graft.spark.SynthRegistry.sf(7))).toDF("archive", "project", "payload")
    val out = KgEngine.enrichFromArchive(canon, payloads).collect()
    val hp = out.find(_.pred == "Homepage").get
    assert(hp.certainty == Certainty.Possible) // lib.rs:3567-3576: sf_certainty
  }

  test("Hackage and Pecl branches parse their payload dialects") {
    import spark.implicits._
    val canon = Seq(
      triple("h", "Archive", "Hackage", Certainty.Likely),
      triple("h", "Hackage-Package", "widget", Certainty.Likely),
      triple("p", "Archive", "Pecl", Certainty.Likely),
      triple("p", "Pecl-Package", "widget", Certainty.Likely)).toDS()
    val payloads = Seq(
      ("Hackage", "widget", cabalPayload),
      ("Pecl", "widget", peclHtml)).toDF("archive", "project", "payload")
    val out = KgEngine.enrichFromArchive(canon, payloads).collect()
    assert(out.exists(t => t.subj == "h" && t.pred == "Homepage" &&
      t.obj == "https://widget.example.com/" && t.certainty == Certainty.Certain))
    assert(out.exists(t => t.subj == "h" && t.pred == "Bug-Database" &&
      t.obj == "https://github.com/w/widget/issues"))
    assert(out.exists(t => t.subj == "p" && t.pred == "Repository-Browse" &&
      t.obj == "https://svn.php.net/widget"))
    assert(out.exists(t => t.subj == "p" && t.pred == "Bug-Database" &&
      t.obj == "https://bugs.php.net/widget"))
  }

  test("a null payload consults nothing; the other archives still enrich") {
    import spark.implicits._
    // the Hackage (cabal) and Pecl (html) dialects throw on a null payload;
    // a null row must skip, not fail the job
    val canon = Seq(
      triple("h", "Archive", "Hackage", Certainty.Likely),
      triple("h", "Hackage-Package", "widget", Certainty.Likely),
      triple("p", "Archive", "Pecl", Certainty.Likely),
      triple("p", "Pecl-Package", "widget", Certainty.Likely),
      triple("c", "Archive", "crates.io", Certainty.Likely),
      triple("c", "Cargo-Crate", "widget", Certainty.Likely)).toDS()
    val payloads = Seq(
      ("Hackage", "widget", null: String),
      ("Pecl", "widget", null: String),
      ("crates.io", "widget", crateJson)).toDF("archive", "project", "payload")
    val out = KgEngine.enrichFromArchive(canon, payloads).collect()
    assert(out.filter(t => t.subj != "c").map(_.pred).toSet ==
      Set("Archive", "Hackage-Package", "Pecl-Package"))
    assert(out.exists(t => t.subj == "c" && t.pred == "Homepage" &&
      t.obj == "https://widget.example.com/"))
  }

  test("possible_fields_missing gate: fully-Certain subjects never consult payloads") {
    import spark.implicits._
    val canon = Seq(
      triple("s1", "Archive", "Pecl", Certainty.Likely),
      triple("s1", "Pecl-Package", "widget", Certainty.Likely),
      triple("s1", "Homepage", "https://keep.example.com/", Certainty.Certain),
      triple("s1", "Repository", "https://keep.example.com/r.git", Certainty.Certain),
      triple("s1", "Bug-Database", "https://keep.example.com/b", Certainty.Certain)
    ).toDS()
    val payloads = Seq(("Pecl", "widget", peclHtml)).toDF("archive", "project", "payload")
    val out = KgEngine.enrichFromArchive(canon, payloads).collect()
    assert(!out.exists(_.pred == "Repository-Browse"),
      s"gate must block a fully-Certain subject: ${out.toList}")
    assert(out.find(_.pred == "Homepage").get.obj == "https://keep.example.com/")
  }

  test("routing isolation: a subject only consults its OWN archive's payloads") {
    import spark.implicits._
    // same project name under two archives: the crates subject must not see
    // the Pecl payload, and existing data still wins ties
    val canon = Seq(
      triple("s1", "Archive", "crates.io", Certainty.Likely),
      triple("s1", "Cargo-Crate", "widget", Certainty.Likely)).toDS()
    val payloads = Seq(
      ("Pecl", "widget", peclHtml),
      ("crates.io", "widget", crateJson)).toDF("archive", "project", "payload")
    val out = KgEngine.enrichFromArchive(canon, payloads).collect()
    assert(!out.exists(_.pred == "Repository-Browse")) // pecl-only field
    assert(out.exists(t => t.pred == "Repository" &&
      t.obj == "https://github.com/w/widget"))
  }

  test("plan: each provider gates through a left-anti join; lattice is max_by") {
    import spark.implicits._
    // s2 is gate-complete so the completeness side is non-empty — otherwise
    // PropagateEmptyRelation legitimately prunes the anti-join away
    val canon = Seq(
      triple("s1", "Archive", "SourceForge", Certainty.Likely),
      triple("s1", "SourceForge-Project", "gtab", Certainty.Likely),
      triple("s2", "Archive", "SourceForge", Certainty.Likely),
      triple("s2", "SourceForge-Project", "zsh", Certainty.Likely),
      triple("s2", "Homepage", "https://k.example.com/", Certainty.Certain),
      triple("s2", "Name", "zsh", Certainty.Certain),
      triple("s2", "Repository", "https://k.example.com/r.git", Certainty.Certain),
      triple("s2", "Bug-Database", "https://k.example.com/b", Certainty.Certain)
    ).toDS()
    val payloads = Seq(("SourceForge", "gtab", graft.spark.SynthRegistry.sf(1)))
      .toDF("archive", "project", "payload")
    val plan = KgEngine.enrichFromArchive(canon, payloads)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), s"no anti-join gate:\n$plan")
    assert(plan.contains("max_by"))
    assert(!plan.contains("Window"))
  }

  test("plan: the four provider gates share ONE certain-set aggregate exchange") {
    import spark.implicits._
    withConf("spark.sql.adaptive.enabled" -> "false") {
      // every provider branch must survive optimization (ConvertToLocal-
      // Relation + PropagateEmptyRelation prune branches whose payload or
      // subject subset folds to empty), so seed one routed subject per
      // archive and one Certain union-field so the gate scan is non-empty
      val canon = Seq(
        triple("s1", "Archive", "SourceForge", Certainty.Likely),
        triple("s1", "SourceForge-Project", "gtab", Certainty.Likely),
        triple("s2", "Archive", "Hackage", Certainty.Likely),
        triple("s2", "Hackage-Package", "widget", Certainty.Likely),
        triple("s3", "Archive", "crates.io", Certainty.Likely),
        triple("s3", "Cargo-Crate", "widget", Certainty.Likely),
        triple("s4", "Archive", "Pecl", Certainty.Likely),
        triple("s4", "Pecl-Package", "widget", Certainty.Likely),
        triple("s5", "Homepage", "https://k.example.com/", Certainty.Certain)
      ).toDS()
      val payloads = Seq(
        ("SourceForge", "gtab", graft.spark.SynthRegistry.sf(1)),
        ("Hackage", "widget", cabalPayload),
        ("crates.io", "widget", crateJson),
        ("Pecl", "widget", peclHtml)
      ).toDF("archive", "project", "payload")
      val plan = KgEngine.enrichFromArchive(canon, payloads)
        .queryExecution.executedPlan
      import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
      import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
      // match only exchanges whose IMMEDIATE child (inside its codegen
      // stage) is the partial bit_or mask aggregate (a string match on the
      // whole subtree would also catch the outer lattice exchange, which
      // nests the live gate)
      val gateExchanges = plan.collect {
        case e: ShuffleExchangeExec if ((e.child match {
          case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w.child
          case c => c
        }) match {
          case a: BaseAggregateExec =>
            a.aggregateExpressions.exists(_.toString.contains("bit_or"))
          case _ => false
        }) => e
      }
      assert(gateExchanges.size == 1,
        s"expected ONE live certain-set gate exchange, found ${gateExchanges.size}:\n" +
          plan.toString.take(4000))
      val reused = plan.collect { case r: ReusedExchangeExec => r }
      assert(reused.size >= 3,
        s"the other three gates must reuse it (found ${reused.size} ReusedExchange):\n" +
          plan.toString.take(4000))
    }
  }
}
