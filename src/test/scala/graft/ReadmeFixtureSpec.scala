package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.extract.Readme
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** README byte-identity fixtures (the reference's readme_tests): the
  * extracted description must equal the golden `description` file
  * byte-for-byte (build.rs:62-160). Dispatch: README.md, else README.rst,
  * else README (plain).
  */
class ReadmeFixtureSpec extends AnyFunSuite {


  // ratcheted: number of fixtures that must pass byte-identically
  private val PassFloor = 26

  test("readme description byte-identity") {
    val dirs = Files.list(ReferenceDir("readme_tests")).iterator().asScala
      .filter(Files.isDirectory(_)).toList.sortBy(_.getFileName.toString)

    var pass = 0
    var fail = 0
    for (d <- dirs) {
      val name = d.getFileName.toString
      def read(p: String): Option[String] = {
        val f = d.resolve(p)
        if (Files.exists(f)) Some(new String(Files.readAllBytes(f), "UTF-8")) else None
      }
      val expected = read("description")

      val actual: Either[String, Option[String]] =
        read("README.md") match {
          case Some(md) => Right(Readme.descriptionFromReadmeMd(md)._1)
          case None =>
            read("README.rst") match {
              case Some(rst) => Readme.descriptionFromReadmeRst(rst).map(_._1)
              case None =>
                read("README") match {
                  case Some(plain) => Right(Readme.descriptionFromReadmePlain(plain)._1)
                  case None        => Right(None)
                }
            }
        }

      actual match {
        case Right(a) if a == expected =>
          pass += 1
          info(s"PASS $name")
        case Right(a) =>
          fail += 1
          info(s"FAIL $name")
          val e = expected.getOrElse("<none>")
          val got = a.getOrElse("<none>")
          // first differing line for diagnosis
          val eLines = e.split("\n", -1)
          val gLines = got.split("\n", -1)
          val idx = eLines.zipAll(gLines, "<eof>", "<eof>").indexWhere { case (x, y) => x != y }
          if (idx >= 0) {
            val ee = eLines.lift(idx).getOrElse("<eof>")
            val gg = gLines.lift(idx).getOrElse("<eof>")
            info(s"  line ${idx + 1}: expected ${show(ee)} got ${show(gg)}")
          } else {
            info(s"  lengths: expected ${e.length} got ${got.length}")
          }
        case Left(err) =>
          fail += 1
          info(s"ERROR $name: $err (expected ${expected.map(_ => "description").getOrElse("<none>")})")
      }
    }
    info(s"readme fixtures: $pass/${pass + fail} byte-identical")
    Files.writeString(Paths.get("target/readme_pr.json"),
      s"""{"pass":$pass,"total":${pass + fail}}""")
    assert(pass >= PassFloor, s"only $pass readme fixtures pass (floor $PassFloor)")
  }

  private def show(s: String): String =
    "\"" + s.replace("\t", "\\t").take(90) + "\""
}
