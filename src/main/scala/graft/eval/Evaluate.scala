package graft.eval

import graft.text.PhrasePaths
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Port of the reference evaluation harness
  * (`/root/reference/analysis/evaluate_dirt.py:92-224`): max-score pair
  * dedup, score>0 filter, F1-maximizing threshold sweep over labeled pairs,
  * PR-curve points and TP/FP/TN/FN exemplars.
  *
  * Deviations from the Python original, both deliberate:
  *   - ground-truth phrases are translated with the engine's Java-variant
  *     grammar (`PhrasePaths`, = `DirtDriver.java:768-817`), not the
  *     Python twin — the Java code produced the system outputs, so the
  *     eval must speak the same path dialect (SURVEY.md §7.5.2);
  *   - the ranked sweep breaks score ties by canonical pair order instead
  *     of inheriting input file order, so results are deterministic.
  */
object Evaluate {

  type Pair = (String, String)

  final case class SweepResult(
      threshold: Double, precision: Double, recall: Double, f1: Double)

  final case class EvalReport(
      best: SweepResult,
      scoredPairs: Int,
      prCurve: Seq[(Double, Double)], // (recall, precision)
      truePositives: Seq[(Pair, Double)],
      falsePositives: Seq[(Pair, Double)],
      trueNegatives: Seq[(Pair, Double)],
      falseNegatives: Seq[(Pair, Double)])

  /** Phrase-pair lines (`X cause Y \t X lead to Y`) -> canonicalized path
    * pairs; untranslatable phrases dropped (`evaluate_dirt.py:44-61`).
    *
    * `pythonCompat = true` reproduces the Python evaluator's translation
    * (`evaluate_dirt.py:11-38`) instead of the engine's Java grammar: X/Y
    * placeholders removed anywhere (so reversed pairs like `Y resemble X`
    * still translate), passive rendered `>agent` (not the Java `>prep`),
    * no aux strip, no particle collapse. Needed to replay the published
    * AnalysisReport.md metrics, which were computed by that script.
    */
  def loadGroundTruth(lines: Seq[String],
      pythonCompat: Boolean = false): Set[Pair] = {
    val convert: String => Option[String] =
      if (pythonCompat) convertPythonTwin else PhrasePaths.convert
    lines.flatMap { line =>
      val p = line.trim.split("\t")
      if (p.length < 2) None
      else for {
        a <- convert(p(0))
        b <- convert(p(1))
      } yield canon(a, b)
    }.toSet
  }

  /** `evaluate_dirt.py:11-38` verbatim semantics (Porter-stemmed). */
  def convertPythonTwin(phrase: String): Option[String] = {
    val inner = phrase.replace("X", "").replace("Y", "").trim
    val words = inner.split("\\s+").filter(_.nonEmpty)
    words.length match {
      case 1 =>
        Some(s"N:<nsubj:V:${graft.text.Porter.stem(words(0))}:>dobj:N")
      case 2 if words(1) != "by" =>
        Some(s"N:<nsubj:V:${graft.text.Porter.stem(words(0))}:>prep:P:${words(1)}:>pobj:N")
      case 2 =>
        Some(s"N:<nsubjpass:V:${graft.text.Porter.stem(words(0))}:>agent:P:by:>pobj:N")
      case _ => None
    }
  }

  def canon(p1: String, p2: String): Pair =
    if (p1 <= p2) (p1, p2) else (p2, p1)

  /** A7 max-score dedup + score>0 filter over a scored-pair DataFrame
    * (`get_score_map` + `load_system_output`, `evaluate_dirt.py:63-101`):
    * canonicalize pair order, keep max score per pair, drop zeros.
    * Distributed: one shuffle on the canonical pair key.
    */
  def maxDedup(scored: DataFrame): DataFrame =
    scored
      .select(
        least(col("path1"), col("path2")).as("path1"),
        greatest(col("path1"), col("path2")).as("path2"),
        col("score"))
      .filter(col("score") > 0.0)
      .groupBy("path1", "path2")
      .agg(max("score").as("score"))

  /** Collect a ranked list driver-side. The collect is unbounded on an
    * arbitrary scored DF — [[evaluate]] semi-joins down to the labeled
    * pair set FIRST, so the driver only ever holds <= |pos|+|neg| rows;
    * call this directly only on DFs you know are test-set-sized.
    */
  def rankedPairs(deduped: DataFrame): Seq[(Pair, Double)] =
    deduped.collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(2)))
      .sortBy { case ((p1, p2), s) => (-s, p1, p2) }
      .toSeq

  /** F1-maximizing threshold over labeled pairs only
    * (`find_optimal_threshold`, `evaluate_dirt.py:103-134`).
    *
    * Reference-faithful quirk kept intact: the optimum may be recorded
    * mid-tie-group (precision computed before later pairs with the SAME
    * score are processed), so the reported precision can be unachievable
    * by an actual `score >= threshold` classification when ties straddle
    * the optimum — the Python original behaves identically.
    */
  def sweep(ranked: Seq[(Pair, Double)], pos: Set[Pair],
      neg: Set[Pair]): SweepResult = {
    var best = SweepResult(0.0, 0.0, 0.0, -1.0)
    var tp = 0
    var fp = 0
    ranked.foreach { case (pair, score) =>
      val labeled =
        if (pos(pair)) { tp += 1; true }
        else if (neg(pair)) { fp += 1; true }
        else false
      if (labeled) {
        val prec = if (tp + fp > 0) tp.toDouble / (tp + fp) else 0.0
        val rec = if (pos.nonEmpty) tp.toDouble / pos.size else 0.0
        val f1 = if (prec + rec > 0) 2 * prec * rec / (prec + rec) else 0.0
        if (f1 > best.f1) best = SweepResult(score, prec, rec, f1)
      }
    }
    if (best.f1 < 0) SweepResult(0.0, 0.0, 0.0, 0.0) else best
  }

  /** PR-curve points over labeled ranked pairs
    * (`calculate_pr_curve_data`, `evaluate_dirt.py:136-154`).
    */
  def prCurve(ranked: Seq[(Pair, Double)], pos: Set[Pair],
      neg: Set[Pair]): Seq[(Double, Double)] = {
    var tp = 0
    var fp = 0
    ranked.flatMap { case (pair, _) =>
      if (pos(pair)) tp += 1
      else if (neg(pair)) fp += 1
      else ()
      if ((pos(pair) || neg(pair)) && tp + fp > 0)
        Some((if (pos.nonEmpty) tp.toDouble / pos.size else 0.0,
          tp.toDouble / (tp + fp)))
      else None
    }
  }

  /** PR-curve artifact (`evaluate_dirt.py:250-262`): the exact
    * (recall, precision) series the reference hands to matplotlib,
    * written as a headered TSV instead of a PNG — the plottable DATA is
    * the deliverable; rendering is the caller's concern. Driver-side
    * file IO is fine: the curve is bounded by the labeled pair set.
    */
  def writePrCurve(curve: Seq[(Double, Double)],
      path: java.nio.file.Path): Unit = {
    val lines = "recall\tprecision" +:
      curve.map { case (r, p) => s"$r\t$p" }
    java.nio.file.Files.write(path, lines.mkString("\n").getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    ()
  }

  /** Full report: sweep + curve + up to `nExamples` TP/FP/TN/FN exemplars
    * (`print_error_analysis`, `evaluate_dirt.py:156-224`).
    */
  def evaluate(scored: DataFrame, posLines: Seq[String],
      negLines: Seq[String], nExamples: Int = 5,
      pythonCompat: Boolean = false): EvalReport = {
    val pos = loadGroundTruth(posLines, pythonCompat)
    val neg = loadGroundTruth(negLines, pythonCompat)
    val spark = scored.sparkSession
    import spark.implicits._
    val deduped = maxDedup(scored)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (ranked, total) =
      try {
        // the driver-side list is bounded by the labeled set: only
        // labeled pairs affect the sweep/curve/exemplars, so unlabeled
        // corpus pairs never leave the cluster (they are only counted)
        val labeledDf = (pos ++ neg).toSeq.toDF("path1", "path2")
        (rankedPairs(deduped.join(broadcast(labeledDf),
          Seq("path1", "path2"), "left_semi")),
          deduped.count().toInt)
      } finally graft.util.CacheRelease.release(deduped)
    val best = sweep(ranked, pos, neg)
    val threshold = if (best.threshold <= 0) 0.01 else best.threshold
    val scoreMap = ranked.toMap

    val above = ranked.filter(_._2 >= threshold)
    val tps = above.filter(p => pos(p._1)).take(nExamples)
    val fps = above.filter(p => neg(p._1)).take(nExamples)
    val fnsScored = ranked.filter { case (p, s) => s < threshold && pos(p) }
    val fnsMissing = pos.toSeq.sorted
      .filterNot(scoreMap.contains).map(p => (p, 0.0))
    val fns = (fnsScored ++ fnsMissing).take(nExamples)
    val tns = neg.toSeq.sorted
      .map(p => (p, scoreMap.getOrElse(p, 0.0)))
      .filter(_._2 < threshold)
      .take(nExamples)

    EvalReport(best, total, prCurve(ranked, pos, neg),
      tps, fps, tns, fns)
  }
}
