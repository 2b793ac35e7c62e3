package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.util.hashing.MurmurHash3

/** FastText-style linear quality classifier over hashing-trick unigram
  * features — the model-based filtering step of modern LLM data
  * pipelines (CCNet's fastText language filter, the LLaMA/GPT
  * "quality classifier" stage): no vocabulary table, just
  * `murmur3(token) mod dim` feature ids, so the feature space is fixed
  * at training time and inference is vocabulary-free.
  *
  * Training is full-batch gradient descent on logistic loss, run as
  * `iters` distributed aggregations: each round broadcasts the dense
  * weight vector (dim · 8 B — a few hundred KB), every partition
  * accumulates its gradient contribution into one dense array, and
  * `treeAggregate` folds them — the classic MLlib shape, with the
  * model on the driver and the DATA never leaving the executors.
  * Features are L1-normalized token counts (a doc's length doesn't
  * change its feature scale), labels are 0/1.
  *
  * Scoring is a map-only pass with the broadcast weights — a
  * filter-stage operator that composes with the rest of the curation
  * pipeline (threshold on `p` downstream, like [[TextAnalysis.lmScore]]
  * and `gopherFilter`).
  */
object Classifier {

  /** Sparse hashed unigram features: (feature id, weight) — L1-normalized
    * counts by default (doc length doesn't change feature scale), or
    * binary PRESENCE features with `binary = true`, the standard choice
    * when docs share a small vocabulary and the signal is which tokens
    * appear, not how often (a 0/1 feature keeps the signal's gradient
    * scale independent of document length).
    */
  def hashFeatures(text: String, dim: Int,
      binary: Boolean = false): Array[(Int, Double)] = {
    val w = (if (text == null) "" else text.trim).split("\\s+").filter(_.nonEmpty)
    if (w.isEmpty) Array.empty
    else {
      val counts = new scala.collection.mutable.HashMap[Int, Double]()
      w.foreach { t =>
        val h = graft.text.SqlText.murmurCp(t, 0x9747b28c) % dim
        val id = if (h < 0) h + dim else h
        counts.update(id, counts.getOrElse(id, 0.0) + 1.0)
      }
      val n = w.length.toDouble
      if (binary) counts.keysIterator.map(i => (i, 1.0)).toArray.sortBy(_._1)
      else counts.iterator.map { case (i, c) => (i, c / n) }.toArray.sortBy(_._1)
    }
  }

  private def sigmoid(z: Double): Double = 1.0 / (1.0 + math.exp(-z))

  private def margin(feats: Array[(Int, Double)], w: Array[Double]): Double = {
    var z = w(w.length - 1) // bias in the last slot
    feats.foreach { case (i, x) => z += w(i) * x }
    z
  }

  /** Full-batch logistic-regression training; returns dim+1 weights
    * (bias last). `labelCol` must be 0.0/1.0.
    */
  def train(docs: DataFrame, dim: Int = 4096, iters: Int = 30,
      lr: Double = 2.0, binary: Boolean = false, textCol: String = "text",
      labelCol: String = "label"): Array[Double] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val data = docs
      .select(col(textCol).as("t"), col(labelCol).cast("double").as("y"))
      .as[(String, Double)]
      .map { case (t, y) => (hashFeatures(t, dim, binary), y) }
      .cache()
    try {
      val n = data.count().toDouble
      var w = new Array[Double](dim + 1)
      for (_ <- 1 to iters) {
        val bc = spark.sparkContext.broadcast(w)
        val grad = data.rdd.treeAggregate(new Array[Double](dim + 1))(
          seqOp = { (g, row) =>
            val (feats, y) = row
            val err = sigmoid(margin(feats, bc.value)) - y
            feats.foreach { case (i, x) => g(i) += err * x }
            g(dim) += err
            g
          },
          combOp = { (a, b) =>
            var i = 0
            while (i < a.length) { a(i) += b(i); i += 1 }
            a
          })
        val next = w.clone()
        var i = 0
        while (i < next.length) { next(i) -= lr * grad(i) / n; i += 1 }
        bc.unpersist()
        w = next
      }
      w
    } finally graft.util.CacheRelease.release(data)
  }

  /** Map-only scoring with FROZEN quantized weights (binary presence
    * features only — each present feature contributes exactly its
    * weight): the margin is an exact BIGINT sum `bias_q + Σ w_q(fid)`
    * over the doc's distinct hashed feature ids — order-independent
    * integer arithmetic both engines replay bit-for-bit (the q76/q140
    * quantization discipline) — so the only float ops are one Long→
    * Double conversion, one division by `scale` (a power of ten, exact
    * in binary per IEEE-754 up to 10^22) and one sigmoid at the end.
    * Weights come from a committed [[FrozenClassifier]] artifact,
    * which is what makes q99's scoring pass deterministic and
    * DuckDB-oracle-expressible ([[graft.queries.ClassifierSql]]).
    */
  def scoreQuantized(docs: DataFrame, wq: Array[Long], scale: Long,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val dim = wq.length - 1
    val bc = spark.sparkContext.broadcast(wq)
    docs
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .map { case (id, t) =>
        val w = bc.value
        var zq = w(dim) // bias in the last slot, like margin()
        hashFeatures(t, dim, binary = true).foreach { case (i, _) =>
          zq += w(i)
        }
        (id, sigmoid(zq.toDouble / scale))
      }
      .toDF(idCol, "p")
  }

  /** Map-only scoring: `(idCol passthrough, p)` with p = σ(w·x + b). */
  def score(docs: DataFrame, weights: Array[Double],
      binary: Boolean = false, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val dim = weights.length - 1
    val bc = spark.sparkContext.broadcast(weights)
    docs
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .map { case (id, t) =>
        (id, sigmoid(margin(hashFeatures(t, dim, binary), bc.value)))
      }
      .toDF(idCol, "p")
  }
}
