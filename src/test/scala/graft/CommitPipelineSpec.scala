package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Commit-path guard: every CommitLog write goes through `commitOn` — the
  * one function that reads the snapshot, numbers the next version, retries
  * and publishes — and multi-table prepares through the `txnCommit`
  * coordinator. A `commitDelta(` or `publish(` call anywhere else under
  * `src/main` is a second, hand-written write path and fails this spec.
  */
class CommitPipelineSpec extends AnyFunSuite {

  private val Call = "\\b(commitDelta|publish)\\(".r
  private val MemberDef = "^ {0,2}\\S.*?\\bdef (\\w+)".r
  /** Members whose bodies may publish: the commit function and the txn
    * coordinator, plus the two seams themselves (commitDelta publishes).
    */
  private val Allowed = Set("commitOn", "txnCommit", "commitDelta", "publish")

  /** (file:line, enclosing member) of every publishing call in `p`. A
    * member runs from its top-level line (indent ≤ 2) to the next one.
    */
  private def calls(p: Path): Seq[(String, String)] = {
    var owner = ""
    Files.readAllLines(p).asScala.toSeq.zipWithIndex.flatMap { case (l, i) =>
      val code = l.trim
      if (code.nonEmpty && l.takeWhile(_ == ' ').length <= 2)
        owner = MemberDef.findFirstMatchIn(l).map(_.group(1)).getOrElse("")
      val comment = code.startsWith("*") || code.startsWith("//") ||
        code.startsWith("/*")
      val stripped = l.indexOf("//") match {
        case -1 => l
        case k => l.substring(0, k)
      }
      if (!comment && Call.findFirstIn(stripped).isDefined)
        Some(s"$p:${i + 1}" -> owner)
      else None
    }
  }

  test("only the commit function and the txn coordinator publish commits") {
    val sources = Using.resource(Files.walk(Paths.get("src/main"))) { s =>
      s.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    }
    val all = sources.flatMap(calls)
    assert(all.exists(_._2 == "commitOn"),
      "no publishing call found in commitOn — did the commit function move?")
    val stray = all.filterNot { case (_, owner) => Allowed(owner) }
    assert(stray.isEmpty,
      "commitDelta(/publish( called outside commitOn/txnCommit: " +
        stray.map { case (at, owner) => s"$at (in $owner)" }.mkString(", "))
  }
}
