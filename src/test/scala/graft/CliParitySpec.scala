package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The CLI surface end-to-end: GuessMain's YAML over every reference fixture
  * directory must parse back to exactly the fixture's expected metadata
  * (structural compare — the byte layout of the reference CLI is a
  * serde_yaml emitter artifact, the fields and values are the semantics).
  */
class CliParitySpec extends AnyFunSuite {

  test("GuessMain YAML round-trips to expected.yaml on all reference fixtures") {
    var checked = 0
    for (dir <- FixtureReplay.fixtureDirs(ReferenceDir("testdata"))) {
      val yaml = GuessMain.run(dir)
      val actual = FixtureReplay.parseExpected(yaml)
      val expected = FixtureReplay.parseExpected(new String(
        java.nio.file.Files.readAllBytes(dir.resolve("expected.yaml")), "UTF-8"))
      // drop fixture harness files from the walk: expected.yaml itself adds
      // no metadata, but GuessMain walks everything a real checkout has —
      // compare only the expected fields plus flag spurious extras
      val spurious = actual.keySet -- expected.keySet
      assert(spurious.isEmpty, s"${dir.getFileName}: spurious fields $spurious")
      for ((k, v) <- expected)
        assert(actual.get(k).contains(v),
          s"${dir.getFileName}/$k: expected $v got ${actual.get(k)}")
      checked += 1
    }
    info(s"fixtures checked: $checked")
    assert(checked >= 43)
  }
}
