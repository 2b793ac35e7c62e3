package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unigram-LM subword tokenizer (SentencePiece's model, Kudo 2018,
  * arXiv:1804.10959) — trained and applied at corpus scale with the
  * same distribution trick as [[Bpe]]: the corpus collapses once to its
  * word-frequency histogram (vocabulary-bounded), every heavy step is a
  * map over DISTINCT words with the piece table broadcast, and only
  * piece tables (≤ seed-size rows) ever reach the driver.
  *
  * Training = hard-EM over segmentations:
  *   - seed: the `seedSize` highest count·length substrings of corpus
  *     words (length ≤ `maxPieceLen`), plus every single character
  *     unconditionally (coverage guarantee — any word always has the
  *     char-by-char segmentation);
  *   - E-step: per DISTINCT word, the max-probability segmentation
  *     under current piece log-probs (Viterbi over the word's lattice,
  *     O(len·maxPieceLen), map-side with the table broadcast); the
  *     winning segmentation's pieces collect histogram-weighted counts
  *     through a regular partial-aggregated sum;
  *   - M-step: piece logp = ln(count+1) − ln(total+|V|) (add-1 so a
  *     kept-but-unused char never hits −∞), then prune to `vocabSize`
  *     keeping single chars unconditionally and multi-char pieces by
  *     (count desc, piece asc) — fully deterministic.
  * Hard EM (Viterbi counts instead of lattice forward–backward
  * expectations) is the documented simplification; [[segmentWord]] IS
  * the inference kernel, so train and apply cannot drift, and the
  * whole loop is pinned against [[sequentialTrain]] (the same
  * algorithm as plain Scala on a collected histogram) in
  * `UnigramSpec` and in-query by q119.
  */
object Unigram {

  /** Best (max log-prob) segmentation of `word` under `logp`,
    * Viterbi right-to-left; ties prefer the LONGER piece at each
    * boundary (the descending-length scan makes that the first hit).
    * Single chars absent from the table fall back to `unkLogp` so
    * segmentation never fails.
    */
  def segmentWord(word: String, logp: collection.Map[String, Double],
      maxPieceLen: Int, unkLogp: Double = -1e3): List[String] = {
    // positions and piece lengths in CODE POINTS — the unit the SQL
    // twin's substr/length index by, and the only unit under which a
    // piece can never be half a surrogate pair (the q150 roundtrip
    // REQUIRE caught UTF-16 slicing on the round-15 astral fuzz class)
    val offs = graft.text.SqlText.cpOffsets(word)
    val n = offs.length - 1
    if (n == 0) return Nil
    val best = new Array[Double](n + 1)
    val cut = new Array[Int](n + 1)
    var i = n - 1
    while (i >= 0) {
      var bestScore = Double.NegativeInfinity
      var bestLen = 0
      var l = math.min(maxPieceLen, n - i)
      while (l >= 1) {
        val piece = word.substring(offs(i), offs(i + l))
        val lp = logp.get(piece) match {
          case Some(v)         => v
          case None if l == 1  => unkLogp
          case None            => Double.NegativeInfinity
        }
        if (lp != Double.NegativeInfinity) {
          val s = lp + best(i + l)
          if (s > bestScore) { bestScore = s; bestLen = l }
        }
        l -= 1
      }
      best(i) = bestScore
      cut(i) = bestLen
      i -= 1
    }
    val out = List.newBuilder[String]
    var p = 0
    while (p < n) {
      val l = cut(p)
      out += word.substring(offs(p), offs(p + l))
      p += l
    }
    out.result()
  }

  /** Corpus → word-frequency histogram `(word, weight)` — the bounded
    * surrogate every training step runs over.
    */
  def wordHistogram(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .select(explode(split(col(textCol), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word")
      .agg(count(lit(1)).as("weight"))

  /** One hard-EM pass over a driver-side histogram — the sequential
    * reference the distributed loop must equal exactly. Returns the
    * pruned `(piece → logp)` table after `iters` passes.
    */
  def sequentialTrain(hist: Seq[(String, Long)], vocabSize: Int,
      iters: Int, maxPieceLen: Int, seedSize: Int): Map[String, Double] = {
    // all positions/lengths in CODE POINTS — must mirror [[train]]'s
    // Spark-SQL `length(piece)` (code points) exactly, or an astral
    // single-char piece is a "char" in one path and a "multi" in the
    // other (the q119 distributed-vs-sequential REQUIRE caught this)
    val cpLen = graft.text.SqlText.cpLength _
    val subCounts = collection.mutable.Map.empty[String, Long]
    for ((w, c) <- hist) {
      val offs = graft.text.SqlText.cpOffsets(w)
      val n = offs.length - 1
      for (i <- 0 until n; l <- 1 to math.min(maxPieceLen, n - i)) {
        val p = w.substring(offs(i), offs(i + l))
        subCounts(p) = subCounts.getOrElse(p, 0L) + c * l
      }
    }
    val chars = subCounts.keys.filter(cpLen(_) == 1).toSeq.sorted
    val multi = subCounts.toSeq.filter(t => cpLen(t._1) > 1)
      .sortBy { case (p, s) => (-s, p) }.take(seedSize).map(_._1)
    var logp = normalize((chars ++ multi).map(_ -> 1L).toMap)
    for (_ <- 1 to iters) {
      val counts = collection.mutable.Map.empty[String, Long]
      for ((w, c) <- hist; p <- segmentWord(w, logp, maxPieceLen))
        counts(p) = counts.getOrElse(p, 0L) + c
      val keptChars = chars.map(c => c -> counts.getOrElse(c, 0L))
      val keptMulti = counts.toSeq.filter(t => cpLen(t._1) > 1)
        .sortBy { case (p, n) => (-n, p) }
        .take(math.max(0, vocabSize - keptChars.size))
      logp = normalize((keptChars ++ keptMulti).toMap)
    }
    logp
  }

  private def normalize(counts: Map[String, Long]): Map[String, Double] = {
    val total = counts.values.sum.toDouble + counts.size
    counts.map { case (p, n) => p -> (math.log(n + 1.0) - math.log(total)) }
  }

  /** Distributed training: the histogram stays on executors; each EM
    * round is one flatMap (Viterbi per distinct word, piece table
    * broadcast) + one partial-aggregated count, and collects only the
    * ≤ seed-size piece table. Returns `(piece, logp)`.
    */
  def train(docs: DataFrame, vocabSize: Int, iters: Int = 3,
      maxPieceLen: Int = 6, seedSize: Int = 2000,
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val hist = wordHistogram(docs, textCol).as[(String, Long)].persist()
    try {
      // seed: substring fan-out per DISTINCT word (bounded by
      // |vocab|·len·maxPieceLen), two-phase aggregated
      val subCounts = hist.flatMap { case (w, c) =>
        // code-point spans, like sequentialTrain and segmentWord
        val offs = graft.text.SqlText.cpOffsets(w)
        val n = offs.length - 1
        for {
          i <- 0 until n
          l <- 1 to math.min(maxPieceLen, n - i)
        } yield (w.substring(offs(i), offs(i + l)), c * l)
      }.toDF("piece", "score").groupBy("piece").agg(sum("score").as("score"))
      val chars = subCounts.filter(length(col("piece")) === 1)
      val multi = subCounts.filter(length(col("piece")) > 1)
        .orderBy(col("score").desc, col("piece")).limit(seedSize)
      val charSet = chars.select("piece").as[String].collect().toSet
      var logp = normalize(
        chars.unionByName(multi).select("piece").as[String].collect()
          .map(_ -> 1L).toMap)

      for (_ <- 1 to iters) {
        val bc = spark.sparkContext.broadcast(logp)
        val counts = hist.flatMap { case (w, c) =>
          segmentWord(w, bc.value, maxPieceLen).map(p => (p, c))
        }.toDF("piece", "cnt").groupBy("piece").agg(sum("cnt").as("cnt"))
          .as[(String, Long)].collect().toMap // ≤ |pieces| rows
        bc.destroy()
        val keptChars = charSet.toSeq.sorted.map(c => c -> counts.getOrElse(c, 0L))
        val keptMulti = counts.toSeq
          .filter(t => graft.text.SqlText.cpLength(t._1) > 1)
          .sortBy { case (p, n) => (-n, p) }
          .take(math.max(0, vocabSize - keptChars.size))
        logp = normalize((keptChars ++ keptMulti).toMap)
      }
      logp.toSeq.sortBy(_._1).toDF("piece", "logp")
    } finally graft.util.CacheRelease.release(hist)
  }

  /** Apply a trained table: map-only (table collected once —
    * ≤ vocabSize rows — and broadcast), one segmentation per word,
    * pieces joined by a single space. `n_pieces` is the true token
    * count because segmentation is lossless per word (q119
    * require-checks the roundtrip corpus-wide).
    */
  def encodeDocs(docs: DataFrame, pieceTable: DataFrame,
      maxPieceLen: Int = 6, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val table = pieceTable.as[(String, Double)].collect().toMap
    val bc = spark.sparkContext.broadcast(table)
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .map { case (id, text) =>
        // spaces-only trim (round 14): exact oracle parity on edge
        // control chars — see graft.text.SqlText
        val words = graft.text.SqlText.tokens(text).toSeq
        val pieces = words.flatMap(segmentWord(_, bc.value, maxPieceLen))
        (id, words.size.toLong, pieces.size.toLong, pieces.mkString(" "))
      }
      .toDF(idCol, "n_words", "n_pieces", "piece_text")
  }
}
