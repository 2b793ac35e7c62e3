package graft.operators

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source rules for the versioned table's one commit path: [[GraftTable]]
  * publishes every version through a single commit loop, and what a new
  * version inherits from its parent is spelled out only in
  * `Pending.inherit`.
  */
class CommitPathSpec extends AnyFunSuite {

  private val source =
    Paths.get("src/main/scala/graft/operators/CommitLog.scala")

  /** (1-based line, code) of every line; comments are blanked. */
  private def codeLines: Seq[(Int, String)] = {
    assert(Files.isRegularFile(source),
      s"run from the repository root: no $source")
    Files.readAllLines(source).asScala.toSeq.zipWithIndex.map {
      case (line, i) =>
        val code = line.split("//", 2)(0)
        val t = code.trim
        (i + 1, if (t.startsWith("*") || t.startsWith("/*")) "" else code)
    }
  }

  test("GraftTable has one commit function") {
    val lines = codeLines
    val retired = lines.filter { case (_, c) =>
      c.contains("def commitVersion") || c.contains("def commitRebasing")
    }
    assert(retired.isEmpty, "commit through GraftTable.commit with a " +
      s"replan instead: lines ${retired.map(_._1).mkString(", ")}")
    assert(lines.count(_._2.contains("def commit(")) == 1)
  }

  test("the parent-carry list appears only in the inherit constructor") {
    val lines = codeLines
    val start = lines.indexWhere(_._2.contains("def inherit("))
    assert(start >= 0, "Pending.inherit is missing")
    // the constructor is one expression: it ends at the first blank or
    // closing-brace line
    val end = lines.indexWhere(
      { case (_, c) => c.trim.isEmpty || c.trim == "}" }, start + 1)
    val (inside, outside) = lines.zipWithIndex
      .filter(_._1._2.contains("tsFloor = "))
      .partition { case (_, i) => i >= start && i < end }
    assert(outside.isEmpty, "derive the Pending with Pending.inherit and " +
      s"copy what the op changes: lines ${outside.map(_._1._1).mkString(", ")}")
    assert(inside.size == 1)
  }
}
