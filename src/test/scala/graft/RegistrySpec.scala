package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.registry.RegistryParsers

/** Registry payload parsers replayed against the reference's own canned API
  * payloads (src/testdata/) — the same vectors its provider
  * unit tests assert on.
  */
class RegistrySpec extends AnyFunSuite {

  private def td(name: String): String = {
    new String(java.nio.file.Files.readAllBytes(
      ReferenceDir(s"src/testdata/$name")), "UTF-8")
  }

  private def field(ds: List[Datum], f: String): Option[UValue] =
    ds.find(_.field == f).map(_.value)

  test("pypi.json parses (python.rs pypi_tests + TryInto field set)") {
    val ds = RegistryParsers.parsePypi(td("pypi.json")).toOption.get
    assert(field(ds, "Name").contains(UStr("merge3")))
    assert(field(ds, "Version").contains(UStr("0.0.15")))
    assert(field(ds, "Summary").contains(UStr("Python implementation of 3-way merge")))
    assert(field(ds, "License").contains(UStr("GNU GPLv2 or later")))
    // author is null in the payload → no Author datum; maintainer is null too
    assert(field(ds, "Author").isEmpty)
    assert(field(ds, "Maintainer").isEmpty)
    // home_page is null → Homepage comes only from project_urls
    assert(field(ds, "Homepage").contains(UStr("https://www.breezy-vcs.org/")))
    assert(field(ds, "Repository").contains(
      UStr("https://github.com/breezy-team/merge3")))
    // the sdist artifact (not the wheel) is the Download
    val dl = ds.filter(_.field == "Download").map(_.value)
    assert(dl == List(UStr(
      "https://files.pythonhosted.org/packages/91/e1/fe09c161f80b5a8d8ede3270eadedac7e59a64ea1c313b97c386234480c1/merge3-0.0.15.tar.gz")))
    assert(ds.forall(_.certainty.contains(Certainty.Certain)))
  }

  test("npm.json parses (node.rs npm_tests + TryInto field set)") {
    val ds = RegistryParsers.parseNpm(td("npm.json")).toOption.get
    assert(field(ds, "Name").contains(UStr("leftpad")))
    assert(field(ds, "Description").contains(UStr("left pad numbers")))
    assert(field(ds, "Homepage").contains(UStr("https://github.com/tmcw/leftpad#readme")))
    assert(field(ds, "Author").contains(UPersons(List(
      Person(Some("Tom MacWright"), Some("tom@macwright.org"))))))
    assert(field(ds, "Repository").contains(UStr("git+https://github.com/tmcw/leftpad.git")))
    assert(field(ds, "Bug-Database").contains(UStr("https://github.com/tmcw/leftpad/issues")))
    assert(field(ds, "License").contains(UStr("BSD-3-Clause")))
    assert(field(ds, "Keywords").contains(UStrings(List("pad", "numbers", "formatting", "format"))))
    assert(field(ds, "Version").contains(UStr("0.0.1")))
    assert(field(ds, "Download").isDefined)
    // npm datums carry NO certainty in the reference (node.rs:186-270)
    assert(ds.forall(_.certainty.isEmpty))
  }

  test("crates.io.json parses (rust.rs crates_io_tests + TryFrom field set)") {
    val ds = RegistryParsers.parseCrates(td("crates.io.json")).toOption.get
    assert(field(ds, "Name").contains(UStr("breezy")))
    assert(field(ds, "Homepage").contains(UStr("https://www.breezy-vcs.org/")))
    assert(field(ds, "Repository").contains(UStr("https://code.launchpad.net/brz")))
    assert(field(ds, "Summary").contains(UStr("Friendly distributed version control system")))
    assert(field(ds, "License").isEmpty) // null in the payload
    assert(field(ds, "Version").contains(UStr("3.3.4")))
  }

  test("cpan.json parses (perl.rs test_load_from_json + TryFrom field set)") {
    val ds = RegistryParsers.parseCpan(td("cpan.json")).toOption.get
    assert(field(ds, "Name").contains(UStr("Pidl.pm")))
    assert(field(ds, "Version").contains(UStr("0.02")))
    val dl = "https://cpan.metacpan.org/authors/id/C/CT/CTRLSOFT/Parse-Pidl-0.02.tar.gz"
    assert(field(ds, "Homepage").contains(UStr(dl)))
    assert(field(ds, "Download").contains(UStr(dl)))
    assert(field(ds, "Author").contains(UPersons(List(Person(name = Some("CTRLSOFT"))))))
  }

  test("rubygem.json parses (ruby.rs test_parse_gem + TryFrom field set)") {
    val ds = RegistryParsers.parseRubygem(td("rubygem.json")).toOption.get
    assert(field(ds, "Name").contains(UStr("bullet")))
    assert(field(ds, "Version").contains(UStr("7.2.0")))
    assert(field(ds, "Author").contains(UPersons(List(Person(name = Some("Richard Huang"))))))
    assert(field(ds, "Homepage").contains(UStr("https://github.com/flyerhzm/bullet")))
    assert(field(ds, "Repository").contains(UStr("https://github.com/flyerhzm/bullet")))
    assert(field(ds, "License").contains(UStr("MIT")))
    // wiki/documentation/mailing-list/bug-tracker/funding are null → absent
    assert(field(ds, "Wiki").isEmpty)
    assert(field(ds, "Documentation").isEmpty)
    assert(field(ds, "Bug-Database").isEmpty)
  }

  test("sourceforge gtab.json: svn survives the cvs drop (test_parse_sf_json_svn)") {
    val ds = RegistryParsers.parseSfJson(td("gtab.json"), "gtab", Some("gtab")).toOption.get
    assert(ds.map(d => (d.field, d.value)) == List(
      ("Name", UStr("gtab")),
      ("Homepage", UStr("http://gtab.sourceforge.net")),
      ("Repository", UStr("https://svn.code.sf.net/p/gtab/svn/trunk"))))
  }

  test("sourceforge zsh.json: git clone url (test_parse_sf_json_git)") {
    val ds = RegistryParsers.parseSfJson(td("zsh.json"), "zsh", Some("zsh")).toOption.get
    assert(ds.map(d => (d.field, d.value)) == List(
      ("Name", UStr("zsh")),
      ("Homepage", UStr("http://zsh.sourceforge.net/")),
      ("Repository", UStr("https://git.code.sf.net/p/zsh/code"))))
  }

  test("sourceforge hg-diff.json: hg read-only url (test_parse_sf_json_hg_diff)") {
    val ds = RegistryParsers.parseSfJson(td("hg-diff.json"), "hg-diff", Some("hg-diff")).toOption.get
    assert(ds.map(d => (d.field, d.value)) == List(
      ("Name", UStr("hg-diff")),
      ("Homepage", UStr("http://hg-diff.sourceforge.net/")),
      ("Repository", UStr("http://hg.code.sf.net/p/hg-diff/code"))))
  }

  test("sourceforge docdb-v.json: bug db kept raw offline (test_parse_sf_json_docdb_v)") {
    val ds = RegistryParsers.parseSfJson(td("docdb-v.json"), "docdb-v", Some("docdb-v")).toOption.get
    assert(ds.map(d => (d.field, d.value)) == List(
      ("Name", UStr("DocDB")),
      ("Homepage", UStr("http://docdb-v.sourceforge.net")),
      ("Bug-Database",
        UStr("http://sourceforge.net/tracker/?func=add&group_id=164024&atid=830064")),
      ("Repository", UStr("https://git.code.sf.net/p/docdb-v/git"))))
  }

  test("pecl.html parses (php.rs test_guess_from_pecl_page)") {
    val ds = RegistryParsers.parsePeclPage(td("pecl.html"))
    assert(ds.map(d => (d.field, d.value)) == List(
      ("Repository-Browse", UStr("https://github.com/eduardok/libsmbclient-php")),
      ("Bug-Database", UStr("https://github.com/eduardok/libsmbclient-php/issues")),
      ("Homepage", UStr("https://github.com/eduardok/libsmbclient-php"))))
  }

  test("pecl empty and malformed pages yield nothing (php.rs edge tests)") {
    assert(RegistryParsers.parsePeclPage("<html><body></body></html>") == Nil)
    assert(RegistryParsers.parsePeclPage("this is not html at all") == Nil)
  }

  test("github repos API payload parses (github.rs test_parse_repo_metadata)") {
    val payload = """{
            "description": "Serialization framework for Rust",
            "homepage": "https://serde.rs/",
            "html_url": "https://github.com/serde-rs/serde",
            "license": {"spdx_id": "Apache-2.0"},
            "archived": false
        }"""
    val ds = RegistryParsers.parseGithubRepo(payload).toOption.get
    assert(ds.map(d => (d.field, d.str.get)) == List(
      ("Summary", "Serialization framework for Rust"),
      ("Homepage", "https://serde.rs/"),
      ("Repository", "https://github.com/serde-rs/serde"),
      ("License", "Apache-2.0")))
    // NOASSERTION licenses are dropped (github.rs test_noassertion_license_dropped)
    assert(RegistryParsers.parseGithubRepo(
      """{"license": {"spdx_id": "NOASSERTION"}}""").toOption.get == Nil)
  }

  test("AUR PKGBUILD variables and datum mapping (arch.rs:7-161)") {
    val pkgbuild =
      """# Maintainer: Someone
        |pkgname=foo-git
        |pkgver=1.2.3
        |url="https://foo.example.com/"
        |arch=('x86_64' 'i686')
        |depends=('glibc'
        |'curl')
        |source=("${pkgname}::git+https://github.com/o/foo.git#branch=main")
        |	make PREFIX=/usr
        |""".stripMargin
    val vars = RegistryParsers.parsePkgbuildVariables(pkgbuild)
    assert(vars("pkgname") == List("foo-git"))
    assert(vars("url") == List("https://foo.example.com/"))
    assert(vars("arch") == List("x86_64", "i686"))
    // faithful reference quirks (arch.rs:31-45): a continued array line is
    // appended WITHOUT the newline, so adjacent quoted tokens concatenate —
    // and the closing line is shlex-split with the `)` still attached, so the
    // last token keeps it
    assert(vars("depends") == List("glibccurl)"))
    assert(!vars.contains("PREFIX"))               // indented lines skipped
    // single-line array with trailing whitespace (arch.rs:49-51): the check
    // trims, but the slice drops only the last raw char → `)` survives as a
    // token
    val ws = RegistryParsers.parsePkgbuildVariables("arch=('x86_64' ) \n")
    assert(ws("arch") == List("x86_64", ")"))
    val ds = RegistryParsers.parseAurPkgbuild(pkgbuild)
    assert(ds.map(d => (d.field, d.str.get, d.certainty.get)) == List(
      ("Homepage", "https://foo.example.com/", Certainty.Possible),
      // ${pkgname} substituted, name:: split off, git+ stripped, #branch= fixed
      ("Repository", "https://github.com/o/foo.git,branch=main", Certainty.Possible)))
  }

  test("gobo Recipe url= and [Field] Description lines (gobo.rs:73-133)") {
    assert(RegistryParsers.parseGoboRecipe("url=https://x.example.com/\ncompile_version=1\n")
      .map(d => (d.field, d.str.get)) == List(("Homepage", "https://x.example.com/")))
    val desc = "[Name] Foo\n[Summary] Does things\n[License] GPL\n[Nope] skipped\n"
    assert(RegistryParsers.parseGoboDescription(desc).map(d => (d.field, d.str.get)) ==
      List(("Name", "Foo"), ("Summary", "Does things"), ("License", "GPL")))
  }

  test("launchpad project payload parses the pure scalar subset") {
    val payload = """{"homepage_url": "https://inkscape.org/",
      "display_name": "Inkscape", "sourceforge_project": "inkscape",
      "wiki_url": "https://wiki.inkscape.org/", "summary": "A vector editor",
      "download_url": "https://inkscape.org/release/"}"""
    val ds = RegistryParsers.parseLaunchpadProject(payload).toOption.get
    assert(ds.map(d => (d.field, d.str.get)) == List(
      ("Homepage", "https://inkscape.org/"),
      ("Name", "Inkscape"),
      ("SourceForge-Project", "inkscape"),
      ("Wiki", "https://wiki.inkscape.org/"),
      ("Summary", "A vector editor"),
      ("Download", "https://inkscape.org/release/")))
  }

  test("repology aggregation: current packages outvote outdated ones 10:1") {
    val payload = """[
      {"name": "foo", "status": "newest", "www": ["https://good.example.com/"],
       "licenses": ["MIT"], "summary": "Good summary", "downloads": []},
      {"name": "foo", "status": "outdated", "www": ["https://stale.example.com/"],
       "licenses": ["GPL"], "summary": "Stale summary", "downloads": ["https://dl.example.com/foo.tar.gz"]},
      {"name": "foo", "status": "outdated", "www": ["https://stale.example.com/"],
       "licenses": ["GPL"], "summary": "Stale summary", "downloads": []}
    ]"""
    val ds = RegistryParsers.parseRepology(payload).toOption.get
    val m = ds.map(d => d.field -> d.str.get).toMap
    assert(m("Homepage") == "https://good.example.com/") // 10 beats 1+1
    assert(m("License") == "MIT")
    assert(m("Summary") == "Good summary")
    assert(m("Download") == "https://dl.example.com/foo.tar.gz") // only vote
  }

  test("repology name parsing and perl module names (repology.rs:4-22)") {
    assert(RegistryParsers.parseRepologyName("python:merge3").contains(("python", "merge3")))
    assert(RegistryParsers.parseRepologyName("nocolon").isEmpty)
    assert(RegistryParsers.perlNameToModule("parse-pidl") == "Parse::Pidl")
    assert(RegistryParsers.perlNameToModule("libwww-perl") == "Libwww::Perl")
  }

  test("pkg.go.dev import paths (go.rs:40-57)") {
    assert(RegistryParsers.goMetadata("github.com/jelmer/dulwich/sub")
      .map(d => (d.field, d.str.get)) == List(
        ("Go-Import-Path", "github.com/jelmer/dulwich/sub"),
        ("Repository", "https://github.com/jelmer/dulwich")))
    assert(RegistryParsers.goMetadata("gitlab.com/x/y") == Nil)
  }

  test("hackage payloads route through the cabal extractor") {
    val ds = RegistryParsers.parse("hackage",
      "name: foo\nversion: 1.0\nhomepage: https://foo.example.com/\n").toOption.get
    assert(ds.exists(d => d.field == "Name" && d.str.contains("foo")))
    assert(ds.exists(d => d.field == "Homepage" && d.str.contains("https://foo.example.com/")))
  }

  test("malformed payloads are Left, not exceptions") {
    assert(RegistryParsers.parsePypi("{").isLeft)
    assert(RegistryParsers.parsePypi("{}").isLeft)
    assert(RegistryParsers.parseNpm("""{"name":"x"}""").isLeft)
    assert(RegistryParsers.parseCrates("""{"crate":{}}""").isLeft)
    assert(RegistryParsers.parseCpan("[1,2]").isLeft)
    assert(RegistryParsers.parse("nosuch", "{}").isLeft)
    // a null payload row must not fail the job that parses it
    for (kind <- Seq("pypi", "npm", "crates", "cpan", "rubygems", "pecl", "github",
        "aur", "gobo-recipe", "gobo-description", "launchpad", "repology", "hackage", "go"))
      assert(RegistryParsers.parse(kind, null).isLeft, kind)
    assert(RegistryParsers.parseSfJson(null, "x", None).isLeft)
  }

  test("pypi: unknown project_urls types are ignored, known ones sorted by type") {
    val payload = """{"info":{"name":"x","version":"1","summary":"s","description":"d",
      "project_urls":{"Zweird": "https://z/", "Source": "https://src/",
                      "Bug Reports": "https://bugs/", "Funding": "https://f/"}},
      "urls":[]}"""
    val ds = RegistryParsers.parsePypi(payload).toOption.get
    val urls = ds.filter(d => Set("Repository", "Bug-Database", "Funding").contains(d.field))
    assert(urls.map(d => (d.field, d.str.get)) == List(
      ("Bug-Database", "https://bugs/"),   // "Bug Reports"
      ("Funding", "https://f/"),
      ("Repository", "https://src/")))     // "Source"
    assert(!ds.exists(d => d.str.contains("https://z/")))
  }

  test("npm: missing dist-tags/latest yields no Version or Download") {
    val ds = RegistryParsers.parseNpm(
      """{"name":"x","description":"d","versions":{}}""").toOption.get
    assert(!ds.exists(_.field == "Version"))
    assert(!ds.exists(_.field == "Download"))
    assert(ds.exists(_.field == "Name"))
  }

  test("rubygems: empty licenses render as an empty License string (faithful join)") {
    val ds = RegistryParsers.parseRubygem(
      """{"name":"x","version":"1","authors":"A","project_uri":"https://p/",
         "licenses":[]}""").toOption.get
    assert(ds.exists(d => d.field == "License" && d.str.contains("")))
    assert(ds.exists(d => d.field == "Homepage" && d.str.contains("https://p/")))
  }

  test("sourceforge: web mounts are dropped before vcs selection") {
    // two tools: a git tool mounted at .../web/ (a website checkout) and a
    // real git tool — the web mount must be filtered out (sourceforge.rs:68-81)
    val payload = """{"name": "p", "tools": [
      {"name": "git", "mount_label": "Web", "url": "https://sourceforge.net/p/p/web/",
       "clone_url_https_anon": "https://git.code.sf.net/p/p/web"},
      {"name": "git", "mount_label": "Code", "url": "https://sourceforge.net/p/p/code/",
       "clone_url_https_anon": "https://git.code.sf.net/p/p/code"}]}"""
    val ds = RegistryParsers.parseSfJson(payload, "p", None).toOption.get
    assert(ds.map(d => (d.field, d.str.get)) == List(
      ("Name", "p"),
      ("Repository", "https://git.code.sf.net/p/p/code")))
  }
}
