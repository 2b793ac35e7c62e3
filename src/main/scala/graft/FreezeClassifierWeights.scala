package graft

import org.apache.spark.sql.functions._

/** Regeneration path for [[graft.operators.FrozenClassifier]]: trains
  * the q99 quality classifier (dim=2048, iters=60, lr=2.0, binary
  * presence features, label = doc contains the planted token 'spark' —
  * exactly the q99 recipe) on EACH fixture dir given, quantizes the
  * weights to `round(w · 10^12)` Longs, and prints the COMPLETE
  * `FrozenClassifier.scala` source to stdout:
  *
  * `sbt "runMain graft.FreezeClassifierWeights /root/testdata/sf0.01 /root/testdata/sf0.1" > src/main/scala/graft/operators/FrozenClassifier.scala`
  *
  * Artifacts are frozen PER FIXTURE (keyed by dir basename), the
  * [[graft.operators.FrozenCentroids]] convention: a trained filter
  * model is a property of the corpus it was fitted on, committed like
  * a production quality-classifier checkpoint and APPLIED at query
  * time. Quantization happens ONCE here — both engines then apply the
  * SAME integer literals, so the q99 margin sum is exact BIGINT
  * arithmetic with no float-summation-order sensitivity. Training
  * itself uses float `treeAggregate` gradients whose reduce order can
  * drift by ulps, which is why `FrozenClassifierSpec` (and q99's
  * in-query gate) pin retrained-vs-frozen to a tolerance
  * (`DriftTolerance` quantized units = 1e-8) instead of bit equality.
  *
  * Audit output on stderr: nonzero weight count, per-token feature ids
  * and the minimum distance of any frozen-scored `p · 10^6` from a
  * .5 rounding boundary (the cross-engine `exp` ulp-safety margin the
  * q33/q34 promotions also audit).
  */
object FreezeClassifierWeights {

  val Dim = 2048
  val Scale = 1000000000000L

  def main(args: Array[String]): Unit = {
    val dirs =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val spark = LocalSession(8)
    import spark.implicits._

    val trained = dirs.map { dir =>
      val key = new java.io.File(dir).getName
      val docs = Tables.documents(spark, dir)
        .withColumn("label",
          array_contains(split(trim(col("text")), "\\s+"), "spark")
            .cast("double"))
      val w = graft.operators.Classifier.train(docs, dim = Dim, iters = 60,
        lr = 2.0, binary = true)
      val wq = w.map(x => math.rint(x * Scale).toLong)

      // ---- stderr audit ----
      val vocab = docs.select(explode(split(trim(col("text")), "\\s+")).as("w"))
        .filter(col("w") =!= "").distinct().as[String].collect().sorted
      System.err.println(s"[$key] vocab=${vocab.length} " +
        s"nonzero_wq=${wq.count(_ != 0L)} bias_q=${wq(Dim)}")
      vocab.foreach { t =>
        val h = graft.text.SqlText.murmurCp(t, 0x9747b28c) % Dim
        val id = if (h < 0) h + Dim else h
        System.err.println(s"[$key] fid($t) = $id wq=${wq(id)}")
      }
      val scored = graft.operators.Classifier
        .scoreQuantized(docs, wq, Scale).as[(Long, Double)].collect()
      val minBoundary = scored.map { case (_, p) =>
        val u = p * 1e6
        math.abs(u - math.floor(u) - 0.5)
      }.min
      System.err.println(
        f"[$key] min |frac(p*1e6) - 0.5| = $minBoundary%.6f (1e-6 p-units)")

      (key, wq)
    }

    def keyId(key: String): String = key.replace(".", "_").replace("-", "_")

    val out = new StringBuilder
    out ++= "package graft.operators\n\n"
    out ++= """/** Frozen quality-classifier weights (round 12): the q99 fastText-style
  * filter model (dim=2048 hashing-trick binary presence features,
  * 60 rounds of full-batch logistic GD, lr=2.0, label = planted token
  * 'spark') trained once per fixture and committed as QUANTIZED Long
  * literals (`round(w * 10^12)`), the way a production pipeline ships
  * its data-quality classifier checkpoint. Freezing + quantization is
  * what makes q99 DuckDB-oracle-expressible: the scoring margin becomes
  * an exact BIGINT sum both engines replay bit-for-bit, with `exp` the
  * only remaining libm call (round-6 + an audited boundary margin
  * absorb its ulps). Training stays first-class: q99 retrains live and
  * require-fails if the result drifts more than [[FrozenClassifier.DriftTolerance]]
  * from this artifact, and `FrozenClassifierSpec` pins the same gate in
  * `sbt test`. Only nonzero entries are stored (the fixture vocabulary
  * touches ~31 of 2048 hashed dims); bias is kept separately.
  *
  * Provenance: `graft.FreezeClassifierWeights` (regenerate with
  * `sbt "runMain graft.FreezeClassifierWeights <fixture dirs...>"`).
  */
"""
    out ++= "object FrozenClassifier {\n\n"
    out ++= s"  val Dim = $Dim\n\n"
    out ++= s"  val Scale = ${Scale}L\n\n"
    out ++= "  /** Max |round(w_live*Scale) - frozen| q99 tolerates: 1e-8 in\n"
    out ++= "    * weight units -- orders of magnitude above float treeAggregate\n"
    out ++= "    * reduce-order ulps, orders below any real recipe drift.\n"
    out ++= "    */\n"
    out ++= "  val DriftTolerance = 10000L\n\n"
    trained.foreach { case (key, wq) =>
      val id = keyId(key)
      val nz = wq.zipWithIndex.take(Dim).collect {
        case (q, i) if q != 0L => s"($i, ${q}L)"
      }
      out ++= s"  private val weights_$id: Vector[(Int, Long)] = Vector(\n"
      out ++= nz.grouped(4).map(g => "    " + g.mkString(", "))
        .mkString(",\n")
      out ++= ")\n\n"
      out ++= s"  private val bias_$id: Long = ${wq(Dim)}L\n\n"
    }
    out ++= "  val weightsBySf: Map[String, Vector[(Int, Long)]] = Map(\n"
    out ++= trained.map { case (key, _) =>
      s"""    "$key" -> weights_${keyId(key)}"""
    }.mkString(",\n")
    out ++= ")\n\n"
    out ++= "  val biasBySf: Map[String, Long] = Map(\n"
    out ++= trained.map { case (key, _) =>
      s"""    "$key" -> bias_${keyId(key)}"""
    }.mkString(",\n")
    out ++= ")\n\n"
    out ++= """  private def key(dir: String): String = new java.io.File(dir).getName

  /** Dense dim+1 quantized weights (bias last, the Classifier.margin
    * layout) for a fixture dir; None -> caller scores live (scale
    * probes / unknown corpora).
    */
  def weightsQFor(dir: String): Option[Array[Long]] =
    weightsBySf.get(key(dir)).map { sparse =>
      val w = new Array[Long](Dim + 1)
      sparse.foreach { case (i, q) => w(i) = q }
      w(Dim) = biasBySf(key(dir))
      w
    }

  /** The sf0.01 artifact, interpolated into the DuckDB oracle SQL
    * (`ClassifierSql`) -- the fixture the driver's correctness gate
    * runs on.
    */
  def oracleWeights: Vector[(Int, Long)] = weightsBySf("sf0.01")

  def oracleBias: Long = biasBySf("sf0.01")
}
"""
    println(out.result())
    spark.stop()
  }
}
