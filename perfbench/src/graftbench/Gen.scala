package graftbench

/** Seeded input generation: every input row is a pure function of the
  * seed and its index.
  */
object Gen {

  /** splitmix64 finalizer. */
  def mix(x: Long, salt: Long): Long = {
    var z = x + salt * 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    (z ^ (z >>> 33)) & Long.MaxValue
  }

  /** A seeded 13-digit name code, injective on [0, 2^40) (an odd
    * multiplier is invertible modulo a power of two). Fixed width keeps
    * input sizes independent of the seed, and a trailing digit is safe
    * from every stemmer rule.
    */
  def code(seed: Long, salt: Long, x: Long): String = {
    val mask = (1L << 40) - 1
    f"${((x * (mix(seed, salt) | 1L)) + mix(seed, salt + 1)) & mask}%013d"
  }

  /** A seeded uniform permutation of [0, n) (Fisher–Yates). */
  def permutation(n: Long, seed: Long, salt: Long): Array[Int] = {
    require(n > 0 && n < Int.MaxValue, s"permutation size out of range: $n")
    val rnd = new java.util.SplittableRandom(mix(seed, salt))
    val p = Array.range(0, n.toInt)
    var i = p.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = p(i); p(i) = p(j); p(j) = t
      i -= 1
    }
    p
  }

  /** One line of the biarc corpus format the DIRT parser reads. */
  def biarc(v: String, x: String, prep: String, y: String, cnt: Long): String =
    s"$v\t$x/NNS/nsubj/2 $v/VBP/ROOT/0 $prep/IN/prep/2 $y/NN/pobj/3\t$cnt"

  /** SHA-256 over the rows, newline-terminated, as hex. */
  def hash(rows: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Writes rows 0 until n to `dir` as one text file of consecutive rows
    * per core, so a scan gets one split per core. Returns the hash of all
    * rows in order.
    */
  def writeParts(dir: String, n: Long)(row: Long => String): String = {
    val parts = Runtime.getRuntime.availableProcessors
    val md = java.security.MessageDigest.getInstance("SHA-256")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    for (p <- 0 until parts) {
      val out = java.nio.file.Files.newBufferedWriter(
        java.nio.file.Paths.get(f"$dir/part-$p%05d.txt"))
      try {
        var i = n * p / parts
        while (i < n * (p + 1) / parts) {
          val line = row(i) + "\n"
          out.write(line)
          md.update(line.getBytes("UTF-8"))
          i += 1
        }
      } finally out.close()
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Seeded shuffle of a small sequence. */
  def shuffle[T](xs: Seq[T], seed: Long, salt: Long): Seq[T] =
    xs.zipWithIndex.sortBy { case (_, i) => mix(i.toLong ^ seed, salt) }.map(_._1)
}

/** The planted closed-form DIRT corpus: `groups` verb groups in each of
  * three families, 8 fillers × 2 prepositions per path. Twin paths share
  * every filler (Lin score exactly 1), disjoint paths share none (exactly
  * 0), partial paths share half (strictly between). Every path is a test
  * pair member. Names and line order are seeded.
  */
final class Planted(seed: Long, groups: Int) {
  val lines: Long = 48L * groups
  private val perm = Gen.permutation(lines, seed, 10)

  private def verb(fam: Int, k: Long): String = Gen.code(seed, 11, fam * groups + k)

  def line(i: Long): String = {
    val idx = perm(i.toInt).toLong
    val prep = if (idx % 2 == 0) "from" else "of"
    val j = (idx / 2) % 8
    val k = (idx / 16) % groups
    val fam = (idx / (16L * groups)).toInt
    val c = verb(fam, k)
    val cnt = 1 + j % 3
    fam match {
      case 0 => Gen.biarc(s"v$c", s"a${c}x$j", prep, s"b${c}y$j", cnt)
      case 1 => Gen.biarc(s"v$c", s"d$prep${c}x$j", prep, s"e$prep${c}y$j", cnt)
      case _ =>
        if (j < 4) Gen.biarc(s"v$c", s"p${c}x$j", prep, s"q${c}y$j", cnt)
        else Gen.biarc(s"v$c", s"p$prep${c}x$j", prep, s"q$prep${c}y$j", cnt)
    }
  }

  /** Verb token -> family (0 twin, 1 disjoint, 2 partial). */
  lazy val familyOf: Map[String, Int] =
    (for (fam <- 0 until 3; k <- 0 until groups)
      yield s"v${verb(fam, k)}" -> fam).toMap

  lazy val testSet: Seq[String] = Gen.shuffle(
    familyOf.keys.toSeq.sorted.map(v => s"X $v from Y\tX $v of Y"), seed, 12)
}

/** The geometric-Zipf correlated corpus: verb k takes 2^-(k+1) of the
  * lines (capped at k = 19) and draws its fillers from a 100-word pool
  * that half-overlaps the next verb's, so a few hot keys carry most rows
  * and Lin scores come out nonzero. The draws are fixed; the seed renames
  * every token and shuffles the lines, so every seed gives an isomorphic
  * corpus of the same size and key counts.
  */
final class Zipf(seed: Long, n: Long) {
  private val perm = Gen.permutation(n, seed, 20)

  def line(i: Long): String = {
    val idx = perm(i.toInt).toLong
    val k = math.min(java.lang.Long.numberOfTrailingZeros(idx + 1), 19)
    val prep = if (Gen.mix(idx, 1) % 3 == 0) "from" else "of"
    val x = Gen.code(seed, 22, k * 50 + Gen.mix(idx, 2) % 100)
    val y = Gen.code(seed, 23, k * 50 + Gen.mix(idx, 3) % 100)
    Gen.biarc(s"v${Gen.code(seed, 21, k)}", s"n$x", prep, s"m$y", 1 + idx % 3)
  }

  /** Closed-form global N: each line contributes its count once per slot. */
  def globalN: Long = (0 until 3).map { r =>
    val count = if (r >= n) 0L else (n - 1 - r) / 3 + 1 // idx % 3 == r
    2 * (1 + r) * count
  }.sum

  private val verbs = Gen.shuffle((0 until 10).map(k => Gen.code(seed, 21, k)), seed, 24)
  val testSet: Seq[String] = verbs.map(c => s"X v$c from Y\tX v$c of Y")
  val positives: Seq[String] = testSet.take(5)
  val negatives: Seq[String] = testSet.drop(5)
}

/** The adversarial near-duplicate corpus: every document carries the
  * same three stopwords and sits in one (language, length) block, so a
  * naive blocked self-join is quadratic; documents pair into families
  * sharing 8 of 13 words (Jaccard 11/15 ≥ 0.5), so the answer is exactly
  * n/2 pairs. Names and doc ids are seeded.
  */
final class NearDups(seed: Long, n: Long) {
  require(n % 2 == 0, "near-dup corpus size must be even")
  private val perm = Gen.permutation(n, seed, 30)

  def family(docId: Long): Long = perm(docId.toInt) / 2

  def text(docId: Long): String = {
    val idx = perm(docId.toInt).toLong
    val f = Gen.code(seed, 31, idx / 2)
    val u = Gen.code(seed, 32, idx)
    ("the of and" +: ('a' to 'h').map(c => s"f$f$c")).mkString(" ") +
      s" u${u}a u${u}b"
  }
}
