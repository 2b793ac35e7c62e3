package graft.obs

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source rules for the one session constructor and the one cost
  * ledger: every main builds its session through `LocalSession`, and
  * Spark listeners and exchange walks live only in `graft.obs`.
  */
class ObservabilityIdiomSpec extends AnyFunSuite {

  private val main = "src/main/scala"

  private def scalaFiles(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the repository root: no $dir")
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally s.close()
  }

  /** (file, 1-based line) of every code line matching `p`; comments are
    * skipped.
    */
  private def hits(files: Seq[Path], p: String): Seq[String] =
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.split("//", 2)(0).trim
      if !code.startsWith("*") && !code.startsWith("/*") &&
        p.r.findFirstIn(code).isDefined
    } yield s"$f:${i + 1}"

  test("SparkSession.builder() appears only in the session constructor") {
    val stray = hits(scalaFiles(main)
      .filterNot(_.endsWith("graft/LocalSession.scala")),
      """SparkSession\.builder\(\)""")
    assert(stray.isEmpty, "build sessions with graft.LocalSession: " +
      stray.mkString(", "))
  }

  test("SparkListener subclasses and exchange walks appear only in graft.obs") {
    val stray = hits(scalaFiles(main)
      .filterNot(_.startsWith(Paths.get(main, "graft", "obs"))),
      """(extends|new)\s+SparkListener\b|ShuffleExchangeLike""")
    assert(stray.isEmpty, "read costs through graft.obs.Ledger: " +
      stray.mkString(", "))
  }
}
