package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Rounds

/** Distributed WordPiece tokenizer training + runtime (Schuster &
  * Nakajima 2012; the BERT tokenizer of Devlin et al. 2019) — the third
  * tokenizer family next to [[Bpe]] and [[Unigram]]. Training is
  * BPE-shaped iterative merging, but the round argmax maximizes the
  * LIKELIHOOD GAIN score `count(l,r) / (count(l) · count(r))` instead of
  * the raw pair count, and non-initial subwords carry the `##`
  * continuation prefix. The runtime is NOT merge-replay: WordPiece
  * encodes by greedy longest-match-first against the trained VOCABULARY
  * (max-munch), emitting `[UNK]` for a word with no viable segmentation.
  *
  * Scale shape, shared with [[Bpe]]: the corpus collapses once to the
  * (distinct word, freq) histogram — 100 TB of text becomes a
  * vocabulary-sized distributed table — and each merge round is two
  * partial-aggregated counts (adjacent pairs, symbol margins) joined on
  * the pair's endpoints, with ONLY the single argmax row collected.
  * Encoding broadcasts the vocabulary (bounded by `nMerges` + the
  * alphabet, by contract) and runs map-only.
  *
  * Determinism: counts are exact longs; the score is one double
  * division of exact longs (bit-identical everywhere); ties break
  * lexicographically on (left, right). No RNG, no partition-order
  * dependence — [[trainMerges]] equals [[sequentialMerges]] row for row
  * (q148 requires it in-query; WordPieceSpec pins both against an
  * independent hand computation).
  */
object WordPiece {

  val Unk = "[UNK]"

  /** A word as initial WordPiece symbols: first CODE POINT bare, every
    * later one `##`-prefixed — code points, not UTF-16 units, so an
    * astral char is one symbol (not two lone surrogates) exactly as in
    * the SQL twin's substr segmentation (VERDICT r14 #5).
    */
  def symbols(word: String): Array[String] = {
    val cps = graft.text.SqlText.codePoints(word)
    val out = new Array[String](cps.length)
    var i = 0
    while (i < cps.length) {
      val c = new String(Character.toChars(cps(i)))
      out(i) = if (i == 0) c else "##" + c
      i += 1
    }
    out
  }

  /** The merged symbol name: the right side loses its continuation
    * prefix (`h` + `##e` → `he`, `##l` + `##o` → `##lo`), so a symbol's
    * prefix always reflects its word position.
    */
  def mergedName(l: String, r: String): String =
    l + (if (r.startsWith("##")) r.substring(2) else r)

  private def replacePair(syms: Array[String], l: String,
      r: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += mergedName(l, r)
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.result()
  }

  /** Train `nMerges` WordPiece merges over the corpus word histogram,
    * with [[Bpe.trainMerges]]'s histogram, pair count and rounds.
    * Output rows `(rank, left, right, merged, pair_count)` in training
    * order.
    */
  def trainMerges(docs: DataFrame, nMerges: Int,
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    Rounds.run { rounds =>
      val words = Unigram.wordHistogram(docs, textCol).as[(String, Long)]
      val first = rounds.eagerly(words.map { case (w, f) => (symbols(w), f) })
      rounds.iterate(first) { (hist, rank) =>
        val top =
          if (rank >= nMerges) None
          else {
            val syms = hist
              .flatMap { case (ss, f) => ss.iterator.map(s => (s, f)) }
              .toDF("s", "f")
              .groupBy("s")
              .agg(sum("f").as("sym_count"))
            // the WordPiece score: exact-long division done once in double —
            // pair_count / (count(l) * count(r)); higher is a bigger
            // likelihood gain for merging
            Bpe.pairCounts(hist)
              .join(syms.withColumnRenamed("s", "l")
                .withColumnRenamed("sym_count", "lc"), Seq("l"))
              .join(syms.withColumnRenamed("s", "r")
                .withColumnRenamed("sym_count", "rc"), Seq("r"))
              .withColumn("score",
                col("pair_count").cast("double") /
                  (col("lc").cast("double") * col("rc").cast("double")))
              .orderBy(desc("score"), asc("l"), asc("r"))
              .limit(1)
              .select("l", "r", "pair_count")
              .as[(String, String, Long)]
              .collect().headOption
          }
        top match {
          case None =>
            Left(merges.result().toDF("rank", "left", "right", "merged", "pair_count"))
          case Some((l, r, c)) =>
            merges += ((rank, l, r, mergedName(l, r), c))
            Right(rounds.lazily(hist.map { case (ss, f) => (replacePair(ss, l, r), f) }))
        }
      }
    }
  }

  /** Sequential reference of [[trainMerges]] over a word histogram —
    * the same score, argmax, and tie-break in one thread. q148 requires
    * distributed == sequential over the fixture's (vocabulary-bounded)
    * histogram; WordPieceSpec pins both against a hand computation.
    */
  def sequentialMerges(hist0: Seq[(String, Long)],
      nMerges: Int): Seq[(Int, String, String, String, Long)] = {
    var hist: Map[List[String], Long] = hist0
      .map { case (w, f) => symbols(w).toList -> f }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val out = Seq.newBuilder[(Int, String, String, String, Long)]
    var k = 0
    var stop = false
    while (k < nMerges && !stop) {
      val pairCounts = hist.toSeq.flatMap { case (syms, f) =>
        syms.sliding(2).collect { case List(a, b) => ((a, b), f) }
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val symCounts = hist.toSeq.flatMap { case (syms, f) =>
        syms.map(s => (s, f))
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      if (pairCounts.isEmpty) stop = true
      else {
        val ((l, r), c) = pairCounts.toSeq.minBy { case ((a, b), cnt) =>
          val score = cnt.toDouble /
            (symCounts(a).toDouble * symCounts(b).toDouble)
          (-score, a, b)
        }
        out += ((k, l, r, mergedName(l, r), c))
        hist = hist.toSeq.map { case (syms, f) =>
          replacePair(syms.toArray, l, r).toList -> f
        }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        k += 1
      }
    }
    out.result()
  }

  /** The runtime vocabulary: every single-character symbol the training
    * corpus produced (bare and `##` forms) plus the merged units, i.e.
    * exactly the symbols a trained WordPiece can emit.
    */
  def vocabulary(docs: DataFrame, merges: DataFrame,
      textCol: String = "text"): Set[String] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val alphabet = docs
      .select(explode(split(trim(col(textCol)), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .as[String]
      .flatMap(w => symbols(w))
      .distinct()
      .collect() // bounded: the corpus alphabet (bare + ## forms)
    val units = merges.select("merged").as[String].collect()
    alphabet.toSet ++ units
  }

  /** Greedy longest-match-first (max-munch) segmentation of one word
    * against the vocabulary — the standard WordPiece runtime. Returns
    * `[UNK]` alone if any position has no matching vocabulary unit.
    *
    * PRECONDITION (ADVICE r10): input words must not literally start
    * with `##`. The continuation prefix is positional metadata, not
    * escaped content, so a raw corpus token like `##x` at word-initial
    * position can max-munch a continuation unit (`##x` meaning
    * "...x inside a word") and the `' ##'`-strip roundtrip would glue
    * it onto the previous word. Standard BERT preprocessing guarantees
    * this (its basic tokenizer splits `#` off as punctuation before
    * WordPiece runs); callers feeding raw whitespace-split text — as
    * the fixture queries do — inherit the guarantee only when the
    * corpus has no `##`-initial tokens, which q148's roundtrip require
    * verifies rather than assumes.
    */
  def segment(word: String, vocab: Set[String]): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < word.length) {
      val prefix = if (i == 0) "" else "##"
      var j = word.length
      var found: String = null
      while (j > i && found == null) {
        val cand = prefix + word.substring(i, j)
        if (vocab.contains(cand)) found = cand else j -= 1
      }
      if (found == null) return Array(Unk)
      out += found
      i = j
    }
    out.result()
  }

  /** Encode every document with a trained vocabulary. Output:
    * `(doc_id, n_words, n_subwords, n_unk, subword_text)`;
    * `subword_text` joins per-word segmentations with ' ', so for a
    * doc with `n_unk = 0`, stripping the `##` prefixes and re-joining
    * reproduces the whitespace-normalized input exactly (the roundtrip
    * q148 requires in-query).
    *
    * 100 TB shape: vocabulary broadcast once, map-only scan, no shuffle.
    */
  def encodeDocs(docs: DataFrame, vocab: Set[String],
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(vocab)
    docs
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        // spaces-only trim (round 14): exact oracle parity on edge
        // control chars — see graft.text.SqlText
        val words = graft.text.SqlText.tokens(text)
        val segs = words.map(w => segment(w, bc.value))
        (id, words.length.toLong,
          segs.iterator.map(_.length.toLong).sum,
          segs.iterator.count(_.sameElements(Array(Unk))).toLong,
          segs.iterator.map(_.mkString(" ")).mkString(" "))
      }
      .toDF("doc_id", "n_words", "n_subwords", "n_unk", "subword_text")
  }
}
