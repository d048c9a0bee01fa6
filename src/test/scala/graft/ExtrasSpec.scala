package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.urls.Vcs

/** Unit vectors for the round-2 additions: DOAP sink, version_in_tags,
  * external-guesser gating, BMP decode.
  */
class ExtrasSpec extends AnyFunSuite with SparkSuite {

  test("toDoap renders project fields with repository block last") {
    val md = List(
      Datum("Bug-Database", UStr("https://github.com/o/p/issues"), Some(3), None),
      Datum("Description", UStr("Does <things> & more.\n"), Some(0), None),
      Datum("Homepage", UStr("https://p.example.com/"), Some(3), None),
      Datum("Name", UStr("p"), Some(3), None),
      Datum("Repository", UStr("https://github.com/o/p.git"), Some(3), None),
      Datum("Repository-Browse", UStr("https://github.com/o/p"), Some(3), None),
      Datum("Summary", UStr("A tool"), Some(3), None),
      Datum("Version", UStr("1.0"), Some(3), None)) // ignored by DOAP
    val doap = graft.pipeline.Sinks.toDoap(md)
    assert(doap.startsWith("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<doap:Project "))
    assert(doap.contains("<doap:name>p</doap:name>"))
    assert(doap.contains("<doap:shortdesc>A tool</doap:shortdesc>"))
    assert(doap.contains("<doap:description>Does &lt;things&gt; &amp; more.\n</doap:description>"))
    assert(doap.contains(
      "<doap:bug-database>\n    <rdf:resource rdf:resource=\"https://github.com/o/p/issues\" />\n  </doap:bug-database>"))
    // repository block renders last, nested GitRepository with location+browse
    val repoBlock = doap.indexOf("<doap:repository>")
    assert(repoBlock > doap.indexOf("<doap:shortdesc>"))
    assert(doap.contains("<doap:GitRepository>"))
    assert(doap.contains("<doap:location>\n        <rdf:resource rdf:resource=\"https://github.com/o/p.git\" />"))
    assert(doap.contains("<doap:browse>\n        <rdf:resource rdf:resource=\"https://github.com/o/p\" />"))
    assert(!doap.contains(">1.0<")) // Version has no DOAP mapping
    assert(doap.endsWith("</doap:Project>\n"))
  }

  test("version_in_tags vectors (vcs.rs:145-170)") {
    assert(Vcs.versionInTags("1.2.3", Seq("1.2.3")))
    assert(Vcs.versionInTags("1.2.3", Seq("v1.2.3")))
    assert(Vcs.versionInTags("1.2.3", Seq("release/1.2.3")))
    assert(Vcs.versionInTags("1.2.3", Seq("1_2_3")))
    assert(Vcs.versionInTags("1.2.3", Seq("foo_1.2.3")))
    assert(Vcs.versionInTags("1.2.3", Seq("foo-1.2.3")))
    assert(Vcs.versionInTags("1.2.3", Seq("foo_1_2_3")))
    assert(!Vcs.versionInTags("1.2.3", Seq("1.2.4", "v2.0", "rel_1.2.30x")))
  }

  test("possible_fields_missing and gated external extension") {
    import scala.collection.mutable.ArrayBuffer
    val md = ArrayBuffer(
      Datum("Name", UStr("p"), Some(Certainty.Certain), None),
      Datum("Version", UStr("1.0"), Some(Certainty.Confident), None))
    assert(!Merge.possibleFieldsMissing(md.toSeq, Seq("Name")))
    assert(Merge.possibleFieldsMissing(md.toSeq, Seq("Version"))) // below Certain
    assert(Merge.possibleFieldsMissing(md.toSeq, Seq("Homepage"))) // absent

    // gate closed: external guesser never consulted
    var called = 0
    Merge.extendFromExternalGuesser(md, Certainty.Likely, Seq("Name"),
      () => { called += 1; List(("Name", UStr("other"))) })
    assert(called == 0 && md.find(_.field == "Name").get.str.contains("p"))

    // gate open: fills the gap at maxCertainty, loses to higher certainty
    Merge.extendFromExternalGuesser(md, Certainty.Likely, Seq("Version", "Homepage"),
      () => { called += 1
        List(("Version", UStr("9.9")), ("Homepage", UStr("https://x/"))) })
    assert(called == 1)
    assert(md.find(_.field == "Version").get.str.contains("1.0")) // Confident wins
    assert(md.find(_.field == "Homepage").get.certainty.contains(Certainty.Likely))
  }

  test("CosineSimilarity expression: codegen matches interpreted and the plan has no UDF") {
    import org.apache.spark.sql.{functions => F}
    graft.functions.CosineSimilarity.register(spark)
    val df = spark.createDataFrame(Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f)),   // identical → 1.0
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),               // orthogonal → 0.0
      (Array(0.0f, 0.0f), Array(1.0f, 1.0f)),               // zero norm → 0.0
      (Array(0.5f, -0.25f, 2.0f), Array(-1.5f, 0.75f, 0.125f))
    )).toDF("a", "b")
    val out = df.select(F.expr("cosine_sim(a, b)")).collect().map(_.getDouble(0))
    def ref(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
      }
      if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
    }
    assert(out(0) == 1.0 && out(1) == 0.0 && out(2) == 0.0)
    assert(out(3) == ref(Array(0.5f, -0.25f, 2.0f), Array(-1.5f, 0.75f, 0.125f)))
    // interpreted path agrees with codegen
    import org.apache.spark.sql.catalyst.expressions.{CreateArray, Literal}
    def arr(vs: Float*) = CreateArray(vs.map(v => Literal(v)))
    val e = graft.functions.CosineSimilarity(
      arr(0.5f, -0.25f, 2.0f), arr(-1.5f, 0.75f, 0.125f))
    assert(e.eval(null) == out(3))
    // the ANN-LSH scoring plan must carry the native expression, not a ScalaUDF
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = graft.spark.TrainingOps.annLsh(emb).queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), "UDF found in ANN plan")
  }

  test("cosine_sim and browse_url_from_repo register once per session") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val registry = spark.sessionState.functionRegistry
    for ((name, register) <- Seq[(String, org.apache.spark.sql.SparkSession => Unit)](
        "cosine_sim" -> graft.functions.CosineSimilarity.register,
        "browse_url_from_repo" -> graft.functions.BrowseUrlFromRepo.register)) {
      val id = FunctionIdentifier(name)
      register(spark)
      val (builder, info) = (registry.lookupFunctionBuilder(id), registry.lookupFunction(id))
      register(spark)
      // a re-registration stores a fresh entry and logs a WARN per call.
      // The builder is a non-capturing lambda, one instance either way; the
      // ExpressionInfo is built per registration, so it shows the repeat
      assert(registry.lookupFunctionBuilder(id).get eq builder.get, name)
      assert(registry.lookupFunction(id).get eq info.get, name)
    }
  }

  test("minhash near-dup pairs: one edited word is found, unrelated text is not") {
    val words = (0 until 100).map(i => s"w$i")
    val base = words.mkString(" ")
    val edited = words.updated(50, "CHANGED").mkString(" ")   // 3 of 98 shingles differ
    val unrelated = (0 until 100).map(i => s"z$i").mkString(" ")
    val docs = spark.createDataFrame(Seq(
      (0L, base), (1L, edited), (2L, unrelated))).toDF("doc_id", "text")
    val pairs = graft.spark.TrainingOps.minhashDedupPairs(docs, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((0L, 1L)))
    assert(pairs.head._3 > 0.9 && pairs.head._3 < 1.0)
  }

  test("BMP decode reads header dimensions; non-BMP falls back") {
    import graft.spark.TrainingOps
    val bmp = TrainingOps.syntheticBmp(37) // w = 1+37%16 = 6, h = 1+37%12 = 2
    assert(bmp(0) == 'B'.toByte && bmp(1) == 'M'.toByte)
    val media = spark.createDataFrame(Seq(
      (37L, bmp), (1L, "not an image".getBytes("UTF-8"))
    )).toDF("doc_id", "blob")
    val out = TrainingOps.decodeMediaBatch(spark, media)
      .collect().map(f => f.doc_id -> f).toMap
    assert(out(37L).width == 6 && out(37L).height == 2)
    assert(out(37L).n_bytes == bmp.length)
    val n = "not an image".length
    assert(out(1L).width == 1 + n % 640 && out(1L).height == 1 + n % 480)
  }

  test("extrapolate signals ExtrapolationLimitExceeded instead of silently truncating") {
    import scala.collection.mutable.ArrayBuffer
    import graft.pipeline.Summarize
    // Homepage → Repository → Repository-Browse is a derivation chain that
    // needs a second sweep to observe quiescence: iteration 1 changes the
    // metadata, iteration 2 confirms the fixpoint. With the reference's
    // default limit (10) it converges; with iteration_limit = 1 the
    // reference returns Err(ProviderError::ExtrapolationLimitExceeded(1))
    // (extrapolate.rs:524-528) — ours returns the same error as data.
    def md() = ArrayBuffer(
      Datum("Homepage", UStr("https://github.com/o/p"), Some(3), None))
    val ok = Summarize.extrapolate(md())
    assert(ok.isEmpty)
    val m = md()
    val err = Summarize.extrapolate(m, iterationLimit = 1)
    assert(err.contains("ExtrapolationLimitExceeded(1)"))
    // like the reference's mutate-then-Err, the buffer keeps iteration 1's
    // derivations
    assert(m.exists(_.field == "Repository"))
  }
}
