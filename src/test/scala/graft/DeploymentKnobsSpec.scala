package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Knob inventory guard: every `spark.graft.*` key the library names as a
  * string literal under `src/main`, and every `spark.sql.*` key
  * `Graft.session` sets, must have a row in DEPLOYMENT.md's session table,
  * so an operator can find every knob in one place. A row ending in `.*`
  * covers every key under its prefix.
  */
class DeploymentKnobsSpec extends AnyFunSuite {

  private val KeyLiteral = "\"(spark\\.graft\\.[A-Za-z0-9_.]*[A-Za-z0-9_])\"".r
  private val TableRow = "^\\| `(spark\\.graft\\.[^`]+)` \\|".r
  private val SessionKey = "\\.config\\(\"(spark\\.sql\\.[^\"]+)\"".r
  private val SqlRow = "^\\| `(spark\\.sql\\.[^`]+)` \\|".r

  private def rows(pattern: scala.util.matching.Regex): Set[String] =
    Files.readAllLines(Paths.get("DEPLOYMENT.md")).asScala
      .flatMap(l => pattern.findFirstMatchIn(l).map(_.group(1))).toSet

  test("every spark.graft.* key read under src/main is in DEPLOYMENT.md's table") {
    val sources = Using.resource(Files.walk(Paths.get("src/main"))) { s =>
      s.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    }
    def keysIn(p: Path): Seq[String] =
      KeyLiteral.findAllMatchIn(Files.readString(p)).map(_.group(1)).toSeq
    val read = sources.flatMap(keysIn).toSet
    assert(read.nonEmpty, "no spark.graft.* keys found under src/main")
    val missing = read -- rows(TableRow)
    assert(missing.isEmpty,
      s"spark.graft.* keys missing from DEPLOYMENT.md's table: ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("every spark.sql.* key Graft.session sets is in DEPLOYMENT.md's table") {
    val set = SessionKey.findAllMatchIn(
      Files.readString(Paths.get("src/main/scala/graft/Graft.scala")))
      .map(_.group(1)).toSet
    assert(set.nonEmpty, "Graft.session sets no spark.sql.* key")
    val documented = rows(SqlRow)
    val prefixes = documented.filter(_.endsWith(".*")).map(_.dropRight(1))
    val missing = set.filterNot(k => documented(k) || prefixes.exists(k.startsWith))
    assert(missing.isEmpty,
      s"spark.sql.* keys Graft.session sets but DEPLOYMENT.md's table lacks: ${missing.toSeq.sorted.mkString(", ")}")
  }
}
