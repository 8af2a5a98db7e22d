package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Read-routing guard: which relation serves a CommitLog read is decided
  * in `sources/commitlog/` alone (`CommitLogRelation`: one extractor, one
  * route function, the per-query re-route). A mention of a read relation
  * class (the file index or the empty relation; the pattern also keeps
  * the deleted merge-on-read relation out), or a `new DefaultSource()`
  * round-trip, anywhere else under `src/main` is a second, hand-written
  * copy of that decision and fails this spec.
  */
class ReadRoutingSpec extends AnyFunSuite {

  private val Owner = Paths.get("src/main/scala/graft/sources/commitlog")
  private val Mention =
    "\\b(CommitLogFileIndex|MergeOnReadRelation|EmptyCommitLogRelation)\\b|new DefaultSource\\(".r

  test("only sources/commitlog names the CommitLog read relations") {
    val sources = Using.resource(Files.walk(Paths.get("src/main"))) { s =>
      s.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && !p.startsWith(Owner)).toSeq
    }
    assert(sources.nonEmpty, "no sources scanned — did src/main move?")
    val stray = sources.flatMap { p: Path =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (l, i) if Mention.findFirstIn(l).isDefined => s"$p:${i + 1}"
      }
    }
    assert(stray.isEmpty,
      "CommitLog read relations named outside sources/commitlog: " +
        stray.mkString(", "))
  }
}
