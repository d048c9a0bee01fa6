package graft

import java.nio.file.{Files, Path, Paths}

/** The upstream-ontologist reference checkout the fixture suites replay:
  * `GRAFT_REFERENCE_DIR`, else the default path below. A missing input fails
  * the calling test with one line naming the path, not a
  * `NoSuchFileException` stack trace. It is a failure, never a skip: a
  * gate whose input is missing has not passed.
  */
object ReferenceDir {

  val root: Path = Paths.get(sys.env.getOrElse("GRAFT_REFERENCE_DIR", "/root/reference"))

  /** `rel` under the reference checkout, failing the test (at the caller's
    * line) if it is absent.
    */
  def apply(rel: String)(implicit pos: org.scalactic.source.Position): Path = {
    val p = root.resolve(rel)
    if (!Files.exists(p))
      org.scalatest.Assertions.fail(
        s"reference input missing: $p (set GRAFT_REFERENCE_DIR to the checkout)")(pos)
    p
  }
}
