package graft.util

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source rules for the one release idiom ([[CacheRelease]]):
  * `localCheckpoint` is confined to where lineage truncation is the
  * point ([[Rounds]] for the iterative operators and the merge
  * changelog's pin), and nothing names the
  * retired checkpoint helper.
  */
class ReleaseIdiomSpec extends AnyFunSuite {

  private val checkpointOwners = Set("Rounds.scala", "DirtIncremental.scala",
    "Bench.scala")

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
      if !code.startsWith("*") && !code.startsWith("/*") && code.contains(p)
    } yield s"$f:${i + 1}"

  test("localCheckpoint appears only where lineage truncation is the point") {
    val stray = hits(scalaFiles("src/main/scala/graft")
      .filterNot(f => checkpointOwners(f.getFileName.toString)),
      "localCheckpoint(")
    assert(stray.isEmpty, "persist and release with CacheRelease instead: " +
      stray.mkString(", "))
  }

  test("nothing references the retired checkpoint helper") {
    val self = "ReleaseIdiomSpec.scala"
    val stale = hits(scalaFiles("src").filterNot(_.getFileName.toString == self),
      "graft.util.Checkpoints")
    assert(stale.isEmpty, "use CacheRelease.release: " + stale.mkString(", "))
  }
}
