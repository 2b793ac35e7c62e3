package graft

import graft.util.Json.quote
import org.apache.spark.sql.functions._

/** Regeneration path for [[graft.operators.FrozenVocab]]: trains the BPE
  * merge table (40 merges, the q114 training slice `doc_id % 7 == 0`) and
  * the WordPiece vocabulary (30 merges + corpus alphabet) on the given
  * fixture dir and prints the Scala literal bodies to paste into
  * `FrozenVocab.scala`. Run whenever the frozen artifacts need refreshing
  * against a regenerated fixture:
  *
  * `sbt "runMain graft.FreezeVocab /root/testdata/sf0.01"`
  *
  * Training itself stays deterministic (exact-long counts, lexicographic
  * tie-breaks — see Bpe/WordPiece scaladoc), so this is reproducible, and
  * `FrozenVocabSpec` asserts frozen == retrained whenever the fixture is
  * present.
  */
object FreezeVocab {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = LocalSession(8)
    import spark.implicits._

    val docs = Tables.documents(spark, sfDir)
    val bpe = graft.operators.Bpe
      .trainMerges(docs.filter(col("doc_id") % 7 === 0), nMerges = 40)
      .select(col("rank").cast("int"), col("left"), col("right"))
      .as[(Int, String, String)].collect().sortBy(_._1)
    println("  val bpeMerges: Vector[(String, String)] = Vector(")
    println(bpe.map(t => s"    (${quote(t._2)}, ${quote(t._3)})").mkString(",\n"))
    println("  )")

    val wp = graft.operators.WordPiece
    val merges = wp.trainMerges(docs, nMerges = 30)
    val vocab = wp.vocabulary(docs, merges).toSeq.sorted
    println()
    println("  val wordPieceVocab: Vector[String] = Vector(")
    println(vocab.grouped(6).map(g => "    " + g.map(quote).mkString(", "))
      .mkString(",\n"))
    println("  )")

    // Unigram-LM piece table, the q119 training recipe (doc_id % 5
    // slice) — frozen for the q150 Viterbi-encode oracle. Doubles are
    // printed with Double.toString (shortest round-trip repr), which
    // both the Scala compiler and DuckDB parse back to the identical
    // IEEE-754 bit pattern, so the DP sums match bit-for-bit.
    import spark.implicits._
    val uni = graft.operators.Unigram
      .train(docs.filter(col("doc_id") % 5 === 0), vocabSize = 120,
        iters = 2, maxPieceLen = 4, seedSize = 300)
      .as[(String, Double)].collect().sortBy(_._1)
    println()
    println("  val unigramTable: Vector[(String, Double)] = Vector(")
    println(uni.map { case (p, lp) => s"    (${quote(p)}, $lp)" }
      .mkString(",\n"))
    println("  )")
    spark.stop()
  }
}
