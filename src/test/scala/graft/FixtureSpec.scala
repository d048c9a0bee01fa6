package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Golden-fixture replay: every directory under the reference's testdata is
  * one subject; its files become artifact rows; the pipeline's canonical
  * metadata must match expected.yaml (structural compare). Reports
  * triple-level precision/recall (BASELINE.md target ≥0.95/≥0.95).
  */
class FixtureSpec extends AnyFunSuite {


  private val PrecisionFloor = 0.95
  private val RecallFloor = 0.95

  test("golden fixture replay: triple P/R vs reference expected.yaml") {
    val tallies = FixtureReplay.fixtureDirs(ReferenceDir("testdata")).map { dir =>
      val t = FixtureReplay.replay(dir)
      if (t.failures.isEmpty) info(s"PASS ${dir.getFileName}")
      t
    }
    val total = tallies.reduce(_ + _)
    import total.{tp, fp, fn, precision, recall}
    info(f"triples: tp=$tp fp=$fp fn=$fn precision=$precision%.4f recall=$recall%.4f")
    total.failures.foreach(f => info(s"DIFF $f"))

    // Persist the report for the driver/judge
    val report =
      f"""{"tp":$tp,"fp":$fp,"fn":$fn,"precision":$precision%.4f,"recall":$recall%.4f}"""
    Files.writeString(Paths.get("target/fixture_pr.json"), report)

    assert(precision >= PrecisionFloor,
      f"precision $precision%.4f below floor $PrecisionFloor")
    assert(recall >= RecallFloor, f"recall $recall%.4f below floor $RecallFloor")
  }
}
