package graft.operators

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source rules for the near-duplicate pair family: each step of the
  * candidate-and-verify pipeline (pigeonhole Hamming pairing, shingle
  * Jaccard verify, cosine verify, the Jaccard ratio column, the
  * canonical edge list, the components convergence test) is written
  * once.
  */
class NearDupIdiomSpec extends AnyFunSuite {

  private val dir = "src/main/scala/graft/operators"
  private val dedup = Paths.get(s"$dir/Dedup.scala")
  private val dupGraph = Paths.get(s"$dir/DupGraph.scala")

  /** (file, 1-based line) of every code line containing `p`; comments
    * are skipped.
    */
  private def hits(files: Seq[Path], p: String): Seq[String] =
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.split("//", 2)(0).trim
      if !code.startsWith("*") && !code.startsWith("/*") && code.contains(p)
    } yield s"${f.getFileName}:${i + 1}"

  private def once(files: Seq[Path], p: String, use: String): Unit = {
    files.foreach(f =>
      assert(Files.isRegularFile(f), s"run from the repository root: no $f"))
    val sites = hits(files, p)
    assert(sites.size == 1, s"$use instead of another `$p`: " +
      sites.mkString(", "))
  }

  test("one pigeonhole Hamming pairer in the operators") {
    val files = {
      val s = Files.list(Paths.get(dir))
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally s.close()
    }
    once(files, "bit_count(", "pair fingerprints with Dedup.hammingPairs")
  }

  test("one verify step per similarity in Dedup") {
    once(Seq(dedup), ".intersect(", "verify shingle Jaccard with shingleJaccardPairs")
    once(Seq(dedup), "finiteRoundedCosine(v1, v2)", "verify cosine with cosinePairs")
    once(Seq(dedup), """col("n1") + col("n2") - col("n_inter")""",
      "take the Jaccard column from jaccardRatio")
  }

  test("Dedup calls Ids.longId directly") {
    assert(hits(Seq(dedup), "def longId").isEmpty)
  }

  test("DupGraph keeps one convergence test: the star-forest check") {
    for (p <- Seq("bit_xor(", ".except("))
      assert(hits(Seq(dupGraph), p).isEmpty,
        s"components stops on its node table, not on `$p`")
  }

  test("DupGraph builds its canonical edge list in one place") {
    once(Seq(dupGraph), """least(col("a"), col("b"))""", "use canonicalEdges")
  }
}
