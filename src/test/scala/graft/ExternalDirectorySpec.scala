package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.spark.{KgEngine, SynthRegistry}
import graft.spark.Model.CanonTriple
import graft.core.Certainty

/** External-directory enrichment (lib.rs:3652-3694): every subject with a
  * Debian source-package name consults Launchpad, AUR, GoboLinux, and
  * Repology IN ORDER, each capped at its max certainty and skipped when the
  * cap cannot meet `minimum_certainty`.
  */
class ExternalDirectorySpec extends AnyFunSuite with SparkSuite {

  private def triple(subj: String, pred: String, obj: String, cert: Int) =
    CanonTriple(subj, pred, obj, "", cert, "fixture")

  private def allPayloads(id: Long) = {
    import spark.implicits._
    Seq(
      ("launchpad", "pkg" + id, SynthRegistry.launchpadDir(id)),
      ("aur", "pkg" + id, SynthRegistry.aurDir(id)),
      ("gobo", "pkg" + id, SynthRegistry.goboDir(id)),
      ("repology", "pkg" + id, SynthRegistry.repologyDir(id))
    ).toDF("directory", "package", "payload")
  }

  test("debianSourceName: Source paragraph, binary-only control, garbage") {
    assert(KgEngine.debianSourceName(
      "Source: foo\nMaintainer: M\n\nPackage: foo-bin\n").contains("foo"))
    assert(KgEngine.debianSourceName("Package: foo-bin\nArchitecture: any\n").isEmpty)
    assert(KgEngine.debianSourceName("").isEmpty)
  }

  test("bare subject gains all four directories' fields with reference precedence") {
    import spark.implicits._
    val canon = Seq(triple("s", "Version", "1.0", Certainty.Certain)).toDS()
    val sources = Seq(("s", "pkg5")).toDF("subj", "package")
    val out = KgEngine.enrichFromExternalDirectory(canon, sources, allPayloads(5))
      .collect().map(t => t.pred -> ((t.obj, t.certainty))).toMap
    // Repology (Confident) beats three Possible homepages
    assert(out("Homepage") == (("https://repology.example.org/h5", Certainty.Confident)))
    // Launchpad (provider 1) beats gobo (provider 3) on the Possible Name tie
    assert(out("Name") == (("LpName5", Certainty.Possible)))
    // only AUR supplies a Repository (launchpad's pure payload has none)
    assert(out("Repository") == (("https://aur.example.com/r5.git", Certainty.Possible)))
    assert(out("Download") == (("https://repology.example.org/d5", Certainty.Confident)))
    assert(out("License") == (("MIT-2", Certainty.Confident)))
    assert(out("Summary") == (("Repology summary 5", Certainty.Confident)))
    assert(out("Wiki") == (("https://lp.example.com/w5", Certainty.Possible)))
    assert(out("Version") == (("1.0", Certainty.Certain)))
  }

  test("minimumCertainty=Confident consults only Repology; Certain consults nobody") {
    import spark.implicits._
    val canon = Seq(triple("s", "Version", "1.0", Certainty.Certain)).toDS()
    val sources = Seq(("s", "pkg5")).toDF("subj", "package")
    val confident = KgEngine.enrichFromExternalDirectory(
        canon, sources, allPayloads(5), minimumCertainty = Certainty.Confident)
      .collect().map(t => t.pred -> t.obj).toMap
    // the three Possible-capped directories are skipped entirely
    // (lib.rs:3717-3720, 3749-3752): no Name, Repository, or Wiki
    assert(confident.keySet == Set("Version", "Homepage", "Download", "License", "Summary"))
    assert(confident("Homepage") == "https://repology.example.org/h5")
    val certain = KgEngine.enrichFromExternalDirectory(
        canon, sources, allPayloads(5), minimumCertainty = Certainty.Certain)
      .collect()
    assert(certain.toSet == Set(triple("s", "Version", "1.0", Certainty.Certain)))
  }

  test("a null payload consults nothing; the other directories still enrich") {
    import spark.implicits._
    // aur and gobo's two line dialects throw on a null payload; a null row
    // must skip, not fail the job
    val canon = Seq(triple("s", "Version", "1.0", Certainty.Certain)).toDS()
    val sources = Seq(("s", "pkg5")).toDF("subj", "package")
    val payloads = Seq(
      ("aur", "pkg5", null: String),
      ("gobo", "pkg5", null: String),
      ("repology", "pkg5", SynthRegistry.repologyDir(5))
    ).toDF("directory", "package", "payload")
    val out = KgEngine.enrichFromExternalDirectory(canon, sources, payloads)
      .collect().map(t => t.pred -> ((t.obj, t.certainty))).toMap
    assert(out("Homepage") == (("https://repology.example.org/h5", Certainty.Confident)))
    assert(!out.contains("Repository"), s"a null payload yielded datums: $out")
    assert(out("Version") == (("1.0", Certainty.Certain)))
  }

  test("possible_fields_missing gates per provider independently") {
    import spark.implicits._
    // Homepage+Repository Certain closes AUR and gobo; launchpad stays open
    // (Download missing) and repology stays open (License/Summary missing)
    val canon = Seq(
      triple("s", "Homepage", "https://keep/", Certainty.Certain),
      triple("s", "Repository", "https://keep/r.git", Certainty.Certain),
      triple("s", "Name", "keepname", Certainty.Certain)).toDS()
    val sources = Seq(("s", "pkg5")).toDF("subj", "package")
    val out = KgEngine.enrichFromExternalDirectory(canon, sources, allPayloads(5))
      .collect().map(t => t.pred -> ((t.obj, t.certainty))).toMap
    assert(out("Homepage") == (("https://keep/", Certainty.Certain)))
    assert(out("Repository") == (("https://keep/r.git", Certainty.Certain)))
    assert(out("Name") == (("keepname", Certainty.Certain)))
    assert(out("Wiki") == (("https://lp.example.com/w5", Certainty.Possible)))
    assert(out("Summary") == (("Repology summary 5", Certainty.Confident)))
    assert(out("Download") == (("https://repology.example.org/d5", Certainty.Confident)))
    assert(out("License") == (("MIT-2", Certainty.Confident)))
  }

  test("gobo's combined payload routes through both line dialects") {
    import spark.implicits._
    val canon = Seq(triple("s", "Version", "1.0", Certainty.Certain)).toDS()
    val sources = Seq(("s", "pkg9")).toDF("subj", "package")
    val goboOnly = Seq(("gobo", "pkg9", SynthRegistry.goboDir(9)))
      .toDF("directory", "package", "payload")
    val out = KgEngine.enrichFromExternalDirectory(canon, sources, goboOnly)
      .collect().map(t => t.pred -> ((t.obj, t.certainty))).toMap
    assert(out("Homepage") == (("https://gobo.example.com/h9", Certainty.Possible)))
    assert(out("Name") == (("GoboName9", Certainty.Possible)))
  }

  test("a package name no subject carries is never consulted") {
    import spark.implicits._
    val canon = Seq(triple("s", "Version", "1.0", Certainty.Certain)).toDS()
    val sources = Seq(("s", "pkg5")).toDF("subj", "package")
    val payloads = Seq(
      ("repology", "pkg5", SynthRegistry.repologyDir(5)),
      ("repology", "otherpkg", SynthRegistry.repologyDir(6)),
      ("launchpad", "otherpkg", SynthRegistry.launchpadDir(6))
    ).toDF("directory", "package", "payload")
    val out = KgEngine.enrichFromExternalDirectory(canon, sources, payloads)
      .collect().map(t => (t.pred, t.obj)).toSet
    assert(out.contains(("Homepage", "https://repology.example.org/h5")))
    assert(!out.exists(_._2.contains("6")))
  }

  test("plan: the four directory gates share ONE certain-set aggregate exchange") {
    import spark.implicits._
    withConf("spark.sql.adaptive.enabled" -> "false") {
      // a Certain union-field keeps the gate's filtered scan non-empty, or
      // ConvertToLocalRelation + PropagateEmptyRelation prune the aggregate
      val canon = Seq(
        triple("s", "Version", "1.0", Certainty.Certain),
        triple("t", "Homepage", "https://k.example.com/", Certainty.Certain)).toDS()
      val sources = Seq(("s", "pkg5")).toDF("subj", "package")
      val plan = KgEngine.enrichFromExternalDirectory(canon, sources, allPayloads(5))
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
