package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** [[Dedup.simhashPairs]] against a driver-side brute force over the
  * same [[Dedup.simhash64]] signatures, at several Hamming radii, and
  * the parallelism floor of its signature map.
  */
class SimhashPairsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("simhash-pairs-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Seeded docs over a small vocabulary, plus planted twins: exact
    * copies (distance 0) and copies with one or two words replaced.
    */
  private val corpus: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(20261018L)
    val vocab = (0 until 40).map(i => s"w$i")
    val base = (0 until 120).map { i =>
      i.toLong -> Seq.fill(8 + rnd.nextInt(12))(vocab(rnd.nextInt(40)))
    }
    val twins = base.take(30).zipWithIndex.map { case ((_, words), k) =>
      val edited = (0 until k % 3).foldLeft(words) { (w, e) =>
        w.updated((k + e) % w.length, s"edit$k$e")
      }
      (1000L + k) -> edited
    }
    (base ++ twins).map { case (id, w) => id -> w.mkString(" ") } :+
      (2000L -> null) :+ (2001L -> "")
  }

  private def bruteForce(maxDist: Int): Set[(Long, Long, Int)] = {
    val sigs = corpus.map { case (id, t) =>
      id -> Dedup.simhash64((if (t == null) "" else t).trim.split("\\s+").toSeq)
    }
    (for {
      (i1, h1) <- sigs
      (i2, h2) <- sigs
      if i1 < i2
      d = java.lang.Long.bitCount(h1 ^ h2)
      if d <= maxDist
    } yield (i1, i2, d)).toSet
  }

  test("simhashPairs equals brute-force popcount pairs at maxDist 0, 3, 7") {
    import spark.implicits._
    val docs = corpus.toDF("doc_id", "text")
    val sizes = Seq(0, 3, 7).map { maxDist =>
      val want = bruteForce(maxDist)
      val got = Dedup.simhashPairs(docs, maxDist)
        .select("id1", "id2", "hamming").as[(Long, Long, Int)]
        .collect().toSet
      assert(got == want, s"maxDist=$maxDist: missing ${want -- got}, " +
        s"extra ${got -- want}")
      want.size
    }
    // planted exact copies (and null vs "") make every radius non-empty;
    // the edited twins make the radii differ
    assert(sizes.head >= 11 && sizes.head < sizes.last, sizes)
  }

  /** The partition counts of the round-robin exchanges in the plan of
    * `simhashPairs` over an input repartitioned to `parts`.
    */
  private def roundRobins(parts: Int): Set[Int] = {
    import spark.implicits._
    val docs = corpus.toDF("doc_id", "text").repartition(parts)
    val plan = Dedup.simhashPairs(docs).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    "RoundRobinPartitioning\\((\\d+)\\)".r.findAllMatchIn(plan)
      .map(_.group(1).toInt).toSet
  }

  test("no round-robin exchange when the input already has enough partitions") {
    val target = spark.sparkContext.defaultParallelism
    // only the input's own repartition: nothing spreads the rows again
    // before the signature map
    assert(roundRobins(2 * target) == Set(2 * target))
    // control: a 1-partition input is spread to the cluster's parallelism
    // (the optimizer collapses the input's own repartition into it)
    assert(roundRobins(1) == Set(target))
  }
}
