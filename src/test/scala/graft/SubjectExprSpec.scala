package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{functions => F}
import graft.spark.{KgEngine, SynthPages}

/** The Catalyst expression forms of splitSubject / isCandidate
  * (KgEngine.subjCol / candidateUrlCol) must agree with the Scala reference
  * functions on every url — they select every extraction's input
  * (candidateRows) and feed the resume filter and KgJob's lineage counts, so
  * a silent divergence would corrupt extraction and resume bucketing at
  * crawl scale. This differential test sweeps the candidate-pattern space
  * plus adversarial edges (trailing slashes, empty segments, missing
  * schemes, '://' inside the path, case, '~').
  */
class SubjectExprSpec extends AnyFunSuite with SparkSuite {

  private val relpaths: Seq[String] = Seq(
    // static registry names + near-misses
    "debian/watch", "debian/control", "debian/changelog", "debian/rules",
    "PKG-INFO", "package.json", "composer.json", "package.xml", "package.yaml",
    "dist.ini", "debian/copyright", "META.json", "MYMETA.json", "META.yml",
    "MYMETA.yml", "configure", "DESCRIPTION", "Cargo.toml", "pom.xml",
    ".git/config", "debian/get-orig-source.sh", "pyproject.toml", "setup.cfg",
    "go.mod", "Makefile.PL", "wscript", "AUTHORS", "INSTALL", "pubspec.yaml",
    "pubspec.yml", "meson.build", "metadata.json", ".travis.yml",
    "package.json5", "xpackage.json", "sub/package.json", "cargo.toml",
    // security
    "SECURITY.md", ".github/SECURITY.md", "docs/SECURITY.md", "sub/SECURITY.md",
    "security.md",
    // debian special
    "debian/source/format", "debian/patches/fix.patch", "debian/patches/fix.diff",
    "debian/patches/sub/fix.patch", "debian/patches/", "debian/source/format/x",
    // egg-info / dist-info / R DESCRIPTION
    "foo.egg-info/PKG-INFO", ".egg-info/PKG-INFO", "foo.egg-info/PKG-INFO/",
    "a/foo.egg-info/PKG-INFO", "foo.egg-infox/PKG-INFO", "foo.egg-info/PKG-INFO2",
    "bar.dist-info/METADATA", "bar.dist-info/METADATA/", "bar.distinfo/METADATA",
    "pkg/DESCRIPTION", "/DESCRIPTION", "pkg/DESCRIPTION/", "a/b/DESCRIPTION",
    "pkg/DESCRIPTIONS",
    // top-level single-file guessers
    "setup.py", "sub/setup.py", "foo.gemspec", "foo.doap", "doap_XML_foo.xml",
    "other.xml", "foo.metainfo.xml", "foo.cabal", "foo.nuspec", "foo.opam",
    "a/foo.gemspec", "foo.gemspecx",
    // README family
    "README", "README.md", "readme.rst", "ReadMe.txt", "README.html",
    "README.pdf", "README.xml", "README.md~", "READMEextra", "HACKING",
    "CONTRIBUTING.md", "contributing.html", ".readme", "README.",
    "README.tar.html", "sub/README.md",
    // misc
    "", "index.html", "src/main.rs", "a//b", "a/b/c/d")

  private val urls: Seq[String] =
    relpaths.map(r => s"https://replay.invalid/proj1/$r") ++ Seq(
      // subject-less / degenerate urls
      "https://replay.invalid", "https://replay.invalid/", "https://replay.invalid/p",
      "nohost", "http//x/y/z", "://host/p/README", "a/b://c/d/README.md",
      "https:///p/README", "https://h//README", "scheme://h/p/",
      "https://h/p/READ ME", "https://h/p/x://y/",
      // '://' inside the path or the project segment
      "https://h/p/a://b/README.md", "https://h/p://q/README.md", "https://h/p/README.md://",
      "https://h/p/pkg/DESCRIPTION?u=http://x/", "http://h/p/debian/watch://",
      "https://h/p/x://h2/p2/README.md", "https://h/p/a://b/c://d/setup.py",
      // a trailing line break, and case in the readme rule's extension
      "https://h/p/foo.egg-info/PKG-INFO\n", "https://h/p/setup.py\n", "https://h/p/README\n",
      "https://h/p/README.HTML", "https://h/p/Contributing.Pdf", "https://h/p/hacking.XML~",
      // trailing slashes
      "https://h/p/README.md/", "https://h/p/Cargo.toml//", "https://h/p/pkg/DESCRIPTION//",
      "https://h/p//", "https://h/p/debian/control/",
      // no third '/'
      "https://h", "https://h:8080", "https://h/README.md", "http:/h/p/README.md")

  test("subjCol and candidateUrlCol agree with the Scala url algebra on every vector") {
    import spark.implicits._
    val df = urls.toDF("url")
      .withColumn("subj_expr", KgEngine.subjCol(F.col("url")))
      .withColumn("cand_expr", KgEngine.candidateUrlCol(F.col("url")))
    val rows = df.collect()
    assert(rows.length == urls.length)
    rows.foreach { row =>
      val url = row.getString(0)
      val expectedSubj = KgEngine.splitSubject(url).map(_._1).getOrElse("")
      val expectedCand = KgEngine.splitSubject(url).exists(sr => KgEngine.isCandidate(sr._2))
      assert(row.getString(1) == expectedSubj,
        s"subjCol($url) = ${row.getString(1)}, scala = $expectedSubj")
      assert(row.getBoolean(2) == expectedCand,
        s"candidateUrlCol($url) = ${row.getBoolean(2)}, scala = $expectedCand")
    }
  }

  test("candidateRows keeps the reference's candidates row for row, with their warc_ts millis") {
    import spark.implicits._
    // one page per vector at its own warc_ts; a null warc_ts maps to
    // Long.MinValue; a null text or a null url is no candidate
    val cases: Seq[(String, Option[Long], Option[String])] =
      urls.zipWithIndex.map { case (u, i) => (u, Some(1000L * i), Some("text")) } ++ Seq(
        ("https://replay.invalid/projN/README.md", None, Some("text")),
        ("https://replay.invalid/projT/README.md", Some(7L), None),
        (null, Some(8L), Some("text")))
    val pages = cases.toDF("url", "ms", "text")
      .select(F.col("url"), F.timestamp_millis(F.col("ms")).as("warc_ts"),
        F.col("text").cast("binary").as("html"), F.col("text"), F.lit("en").as("lang"))
    val got = KgEngine.candidateRows(pages).select("subj", "relpath", "ts")
      .as[(String, String, Long)].collect().toSeq.sorted
    val expected = cases.collect { case (u, ms, Some(_)) if u != null =>
      KgEngine.splitSubject(u).filter(sr => KgEngine.isCandidate(sr._2))
        .map { case (subj, relpath) => (subj, relpath, ms.getOrElse(Long.MinValue)) }
    }.flatten.sorted
    assert(got == expected)
    assert(got.contains(("https://replay.invalid/projN/", "README.md", Long.MinValue)))
  }

  test("resume filter and lineage-style plans contain no ScalaUDF") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .where("doc_id < 32")
    val pages = SynthPages.fromDocuments(docs)
    val resumePlan = KgEngine.resumeFilter(pages, Seq(0, 1), 8)
      .queryExecution.executedPlan.toString
    assert(!resumePlan.contains("ScalaUDF"), s"resume plan has a UDF:\n$resumePlan")
    val lineage = KgEngine.lineage(pages, 8)
    val linPlan = lineage.queryExecution.executedPlan.toString
    assert(!linPlan.contains("ScalaUDF"), s"lineage plan has a UDF:\n$linPlan")
    // the extraction input is Catalyst end to end: no UDF, no typed step
    val candPlan = KgEngine.candidateRows(pages).queryExecution.executedPlan.toString
    assert(!candPlan.contains("ScalaUDF") && !candPlan.contains("DeserializeToObject"),
      s"candidate plan has a UDF or a typed step:\n$candPlan")
    // and the counts must match the Scala-side truth
    val expected = pages.select("url").collect().map(_.getString(0))
      .count(u => KgEngine.splitSubject(u).exists(sr => KgEngine.isCandidate(sr._2)))
    val got = lineage.agg(F.sum("emitted")).first.getLong(0)
    assert(got == expected)
  }
}
