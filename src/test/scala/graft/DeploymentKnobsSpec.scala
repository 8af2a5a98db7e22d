package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Knob inventory guard: every `spark.graft.*` key the library names as a
  * string literal under `src/main` must have a row in DEPLOYMENT.md's
  * session table, so an operator can find every knob in one place.
  */
class DeploymentKnobsSpec extends AnyFunSuite {

  private val KeyLiteral = "\"(spark\\.graft\\.[A-Za-z0-9_.]*[A-Za-z0-9_])\"".r
  private val TableRow = "^\\| `(spark\\.graft\\.[^`]+)` \\|".r

  test("every spark.graft.* key read under src/main is in DEPLOYMENT.md's table") {
    val sources = Using.resource(Files.walk(Paths.get("src/main"))) { s =>
      s.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    }
    def keysIn(p: Path): Seq[String] =
      KeyLiteral.findAllMatchIn(Files.readString(p)).map(_.group(1)).toSeq
    val read = sources.flatMap(keysIn).toSet
    assert(read.nonEmpty, "no spark.graft.* keys found under src/main")
    val documented = Files.readAllLines(Paths.get("DEPLOYMENT.md")).asScala
      .flatMap(l => TableRow.findFirstMatchIn(l).map(_.group(1))).toSet
    val missing = read -- documented
    assert(missing.isEmpty,
      s"spark.graft.* keys missing from DEPLOYMENT.md's table: ${missing.toSeq.sorted.mkString(", ")}")
  }
}
