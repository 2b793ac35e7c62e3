package graft.queries

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source rules for the one gate idiom of the declared queries
  * ([[Q.gated]]): the query files cache and free nothing by hand, and a
  * query body checks its result with at most one action. Comments are
  * skipped.
  */
class GateIdiomSpec extends AnyFunSuite {

  private val files = Seq("PipelineQueries.scala", "RelationalQueries.scala")
    .map(f => Paths.get(s"src/main/scala/graft/queries/$f"))

  /** Members whose checks are sequential by nature, one action per step:
    * the reference computations that collect a driver value a check
    * compares against, and the table and streaming queries that read
    * the table back after each commit.
    */
  private val sequential = Map(
    "q88" -> "sequential BPE reference from a collected histogram, compared to the collected merges",
    "q119" -> "sequential unigram reference from a collected histogram, compared to the collected table",
    "q121" -> "eigenpair residuals checked on the driver from the collected components",
    "q164" -> "row counts of each committed version",
    "q166" -> "re-read after each replayed or compacted commit",
    "q168" -> "changelog bounds read from the base table before the merge",
    "q172" -> "key bounds read from the base table, then the table after the merge",
    "q174" -> "re-read after the restart and the replay",
    "q175" -> "expected users and updates counted against the streamed table",
    "q177" -> "key bounds read from the base table before the merges")

  /** `.count()` after `groupBy(...)` or `pivot(...)` is an aggregation,
    * not an action.
    */
  private val groupedCount =
    """(?:groupBy|pivot)\((?:[^()]|\([^()]*\))*\)\s*\.count\(\)""".r
  private val action =
    """\.count\(\)|\.collect\(\)|\.head\(|\.first\(\)|\.take\(|\.collectAsList\(|\.toLocalIterator\(|\.check\(|\.none\(""".r
  private val member =
    """^  (?:private |lazy |final |override )*(?:val|def|object|class) +(\w+)""".r

  private def code(f: Path): Seq[String] = {
    assert(Files.isRegularFile(f), s"run from the repository root: no $f")
    Files.readAllLines(f).asScala.toSeq.map { line =>
      val c = line.split("//", 2)(0)
      val t = c.trim
      if (t.startsWith("*") || t.startsWith("/*")) "" else c
    }
  }

  /** Each top-level member of `f` with its code. */
  private def members(f: Path): Seq[(String, String)] = {
    val out = Seq.newBuilder[(String, String)]
    var name: Option[String] = None
    val body = new StringBuilder
    def flush(): Unit = name.foreach(n => out += n -> body.toString)
    for (line <- code(f)) {
      member.findFirstMatchIn(line).foreach { m =>
        flush()
        name = Some(m.group(1))
        body.clear()
      }
      body.append(line).append('\n')
    }
    flush()
    out.result()
  }

  private def actions(body: String): Int =
    action.findAllIn(groupedCount.replaceAllIn(body, "")).size

  test("the query files cache and free nothing by hand") {
    for (f <- files; p <- Seq(".persist(", ".cache()", "afterFirstAction(",
        "CacheRelease", ".unpersist(", "localCheckpoint(")) {
      val stray = code(f).zipWithIndex.collect {
        case (c, i) if c.contains(p) => s"${f.getFileName}:${i + 1}"
      }
      assert(stray.isEmpty, s"hold frames with Q.gated instead of `$p`: " +
        stray.mkString(", "))
    }
  }

  test("a query body runs at most one action, its checks folded into one") {
    val all = files.flatMap(members)
    val over = all.collect {
      case (n, b) if actions(b) > 1 && !sequential.contains(n) => s"$n (${actions(b)})"
    }
    assert(over.isEmpty, "fold the checks into one Gate.check: " +
      over.mkString(", "))
    val stale = sequential.keySet.filterNot(n =>
      all.exists { case (m, b) => m == n && actions(b) > 1 })
    assert(stale.isEmpty, s"no longer sequential, drop the exemption: $stale")
  }

  test("the action census sees the actions and skips grouped counts") {
    assert(actions("x.count()\ny.groupBy(\"a\", f(b)).count()\nz.check(w)\ng.none(v)") == 3)
    assert(actions("o.groupBy(\"p\")\n  .pivot(\"s\", Seq(\"F\"))\n  .count()") == 0)
  }
}
