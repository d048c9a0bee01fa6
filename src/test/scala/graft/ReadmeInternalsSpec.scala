package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.extract.Readme

/** README-walk internals against the reference's inline vectors
  * (src/readme.rs:1096-1341), including the real-HTML
  * swh.html DOM fixture.
  */
class ReadmeInternalsSpec extends AnyFunSuite {

  test("parse_first_header_text vectors") {
    assert(Readme.parseFirstHeaderText("libwand 1.0") == (Some("libwand"), None, Some("1.0")))
    assert(Readme.parseFirstHeaderText("libwand -- A wand") == (Some("libwand"), Some("A wand"), None))
    assert(Readme.parseFirstHeaderText("libwand version 1.0") == (Some("libwand"), None, Some("1.0")))
  }

  test("swh.html walk (readme.rs:1310-1340)") {
    val html = new String(java.nio.file.Files.readAllBytes(
      ReferenceDir("src/testdata/swh.html")), "UTF-8")
    val (description, metadata) = Readme.descriptionFromReadmeHtml(html)
    val expected =
      """The Software Heritage Git Loader is a tool and a library to walk a local
Git repository and inject into the SWH dataset all contained files that
weren't known before.

The main entry points are:

*
:class:swh.loader.git.loader.GitLoader for the main loader which can ingest either
local or remote git repository's contents. This is the main implementation deployed in
production.

*
:class:swh.loader.git.from_disk.GitLoaderFromDisk which ingests only local git clone
repository.

*
:class:swh.loader.git.loader.GitLoaderFromArchive which ingests a git repository
wrapped in an archive.

""".replace("*\n", "* \n") // the reference expects "* " with a trailing space
    assert(description.contains(expected))
    assert(metadata.isEmpty)
  }
}
