package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.util.Rounds

/** Distributed byte-pair-encoding merge training (Sennrich et al. 2016,
  * "Neural Machine Translation of Rare Words with Subword Units") — the
  * tokenizer-training step of an LLM data pipeline, as iterative
  * relational passes.
  *
  * The standard histogram trick makes this corpus-scale: pair counts
  * depend only on the WORD FREQUENCY TABLE, so the corpus collapses to
  * (distinct word, count) in one aggregation — 100 TB of text becomes a
  * vocabulary-sized table (still distributed; a web-scale vocab has
  * hundreds of millions of types) — and every merge round is a flatMap
  * of adjacent symbol pairs weighted by word frequency + one partial
  * aggregated count. Only the single argmax row is collected per round
  * (bounded driver state); the winning pair is applied map-side with
  * the classic greedy left-to-right non-overlapping rule. Ties on count
  * break lexicographically on (left, right), so training is fully
  * deterministic — no RNG, no partition-order dependence.
  *
  * Output: one row per merge, `(rank, left, right, pair_count)` in
  * training order — the merge table a tokenizer runtime consumes.
  */
object Bpe {

  private[operators] def mergePair(syms: Array[String], l: String,
      r: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += l + r
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.result()
  }

  /** The word-end marker: a distinct final symbol, so merges crossing
    * word boundaries can't form and suffix units ("est</w>") stay
    * separate from infix ones ("est").
    */
  val EndMark = "</w>"

  /** A word's initial symbol sequence: one symbol per CODE POINT — the
    * unit the BpeEncodeSql oracle segments by; splitting on UTF-16
    * units would make each astral char two lone-surrogate symbols,
    * which are not valid strings (the q114 roundtrip REQUIRE caught
    * exactly this on the round-15 astral fuzz class).
    */
  private def initialSyms(w: String): Array[String] =
    graft.text.SqlText.codePoints(w)
      .map(cp => new String(Character.toChars(cp)))

  /** `(l, r, pair_count)`: every adjacent symbol pair of a word
    * histogram, weighted by its word's frequency, one partial-aggregated
    * count. The pair statistic of every merge round, here and in
    * [[WordPiece]].
    */
  private[operators] def pairCounts(hist: Dataset[(Array[String], Long)]): DataFrame = {
    import hist.sparkSession.implicits._
    hist
      .flatMap { case (syms, f) =>
        syms.iterator.sliding(2).withPartial(false)
          .map(p => (p.head, p(1), f))
      }
      .toDF("l", "r", "f")
      .groupBy("l", "r")
      .agg(sum("f").as("pair_count"))
  }

  /** Train `nMerges` merges over the corpus word histogram
    * ([[Unigram.wordHistogram]]), one [[graft.util.Rounds]] round per
    * merge: the round's argmax collect fills its histogram checkpoint.
    */
  def trainMerges(docs: DataFrame, nMerges: Int,
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    Rounds.run { rounds =>
      val words = Unigram.wordHistogram(docs, textCol).as[(String, Long)]
      val first = rounds.eagerly(
        words.map { case (w, f) => (initialSyms(w) :+ EndMark, f) })
      rounds.iterate(first) { (hist, rank) =>
        val top =
          if (rank >= nMerges) None
          else pairCounts(hist)
            .orderBy(desc("pair_count"), asc("l"), asc("r"))
            .limit(1)
            .as[(String, String, Long)]
            .collect().headOption
        top match {
          // no pair left: every word is one symbol already
          case None =>
            Left(merges.result().toDF("rank", "left", "right", "pair_count"))
          case Some((l, r, c)) =>
            merges += ((rank, l, r, c))
            Right(rounds.lazily(hist.map { case (syms, f) => (mergePair(syms, l, r), f) }))
        }
      }
    }
  }

  /** Greedy segmentation of one word with a trained merge table (merges
    * applied in rank order) — the tokenizer-runtime side, here for
    * round-trip testing.
    */
  def segment(word: String, merges: Seq[(String, String)]): Array[String] = {
    var syms = initialSyms(word) :+ EndMark
    merges.foreach { case (l, r) => syms = mergePair(syms, l, r) }
    syms
  }

  /** Sequential reference over a word-frequency histogram — the same
    * formula [[trainMerges]] distributes, evaluated in one thread. The
    * q88 property oracle collects the (vocabulary-bounded by contract)
    * histogram and requires distributed == sequential; BpeSpec pins
    * this implementation against its own independent reference.
    */
  def sequentialMerges(hist0: Seq[(String, Long)],
      nMerges: Int): Seq[(Int, String, String, Long)] = {
    var hist: Map[List[String], Long] = hist0
      .map { case (w, f) => (initialSyms(w).toList :+ EndMark) -> f }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var k = 0
    var stop = false
    while (k < nMerges && !stop) {
      val counts = hist.toSeq.flatMap { case (syms, f) =>
        syms.sliding(2).collect { case List(a, b) => ((a, b), f) }
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      if (counts.isEmpty) stop = true
      else {
        val ((l, r), c) = counts.toSeq
          .minBy { case ((a, b), cnt) => (-cnt, a, b) }
        out += ((k, l, r, c))
        hist = hist.toSeq.map { case (syms, f) =>
          mergePair(syms.toArray, l, r).toList -> f
        }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        k += 1
      }
    }
    out.result()
  }

  /** Tokenizer runtime over a corpus: encode every document with a
    * trained merge table — the apply step that turns curated text into
    * the subword stream a training run consumes.
    *
    * Output: `(doc_id, n_words, n_subwords, subword_text)` where
    * `subword_text` joins the per-word segmentations with ' ' inside a
    * word and the word boundary restored at [[EndMark]] — so stripping
    * the markers reproduces the whitespace-normalized input exactly
    * (the lossless-roundtrip property q114 requires in-query, and the
    * reason n_subwords is a true token count, not an estimate).
    *
    * 100 TB shape: the merge table is `nMerges` rows — collected once,
    * broadcast, applied map-side. No shuffle, no per-round passes; the
    * corpus scan is the only job. (Greedy rank-order application per
    * word is the standard runtime; sub-quadratic per-word encoders
    * exist but the fixture's words are short — document before
    * optimizing.)
    */
  def encodeDocs(docs: DataFrame, merges: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // rank order: merges MUST apply in training order or segmentations
    // diverge from the trained tokenizer
    val table: Seq[(String, String)] = merges
      .select(col("rank").cast("int"), col("left"), col("right"))
      .as[(Int, String, String)]
      .collect().sortBy(_._1).map(t => (t._2, t._3)).toSeq
    val bc = spark.sparkContext.broadcast(table)
    docs
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        // spaces-only trim (round 14): Java String.trim stripped edge
        // control chars the BpeEncodeSql oracle's SQL trim keeps —
        // q114's own roundtrip require caught the divergence in-engine
        val words = graft.text.SqlText.tokens(text)
        val segs = words.map(w => segment(w, bc.value))
        (id, words.length.toLong,
          segs.iterator.map(_.length.toLong).sum,
          segs.iterator.map(_.mkString(" ")).mkString(" "))
      }
      .toDF("doc_id", "n_words", "n_subwords", "subword_text")
  }
}
