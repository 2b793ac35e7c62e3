package graft

/** Regeneration path for [[graft.operators.FrozenCentroids]]: trains the
  * 16-cell coarse k-means quantizer (`Ivf.trainCentroids`, nList=16,
  * iters=2 — the q44/q86/q108/q109/q137 recipe) and the PQ codebooks
  * (`Pq.trainCodebooks`, m=8, ksub=16, iters=2 — the q85/q109 recipe)
  * on EACH fixture dir given, and prints the COMPLETE
  * `FrozenCentroids.scala` source to stdout:
  *
  * `sbt "runMain graft.FreezeCentroids /root/testdata/sf0.01 /root/testdata/sf0.1" > src/main/scala/graft/operators/FrozenCentroids.scala`
  *
  * The artifacts are frozen PER FIXTURE (keyed by the dir basename)
  * because a coarse quantizer is a property of the corpus it indexes:
  * the synthetic fixtures draw their planted cluster structure
  * independently per scale factor, so a quantizer fitted on one
  * transfers at only ~0.6 recall to the other (measured round 12) —
  * exactly like production, where each corpus version ships its own
  * trained index artifact. Training is deterministic (lowest-id init,
  * no RNG — see Ivf/Pq scaladoc), so this is reproducible;
  * `FrozenCentroidsSpec` retrains on each fixture and asserts frozen ==
  * retrained, making artifact drift a visible test failure. Doubles are
  * printed with Double.toString (shortest round-trip repr), which the
  * Scala compiler and DuckDB both parse back to the identical IEEE-754
  * bit pattern, so cross-engine distance/argmin comparisons see the
  * same numbers.
  */
object FreezeCentroids {

  def vec(d: Array[Double]): String =
    d.map(_.toString).mkString("Vector(", ", ", ")")

  def main(args: Array[String]): Unit = {
    val dirs =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val spark = LocalSession(8)

    val trained = dirs.map { dir =>
      val key = new java.io.File(dir).getName
      // raw single-split read: frozen artifacts must be derived from the
      // DETERMINISTIC scan order (float reduce order is the only slack
      // the drift gates tolerate; the r18 Spread floor would otherwise
      // make the provenance depend on the freezing machine's core count)
      val emb = Tables.raw(spark, dir, "embeddings")
      val coarse = graft.operators.Ivf.trainCentroids(emb, nList = 16, iters = 2)
      val cb = graft.operators.Pq.trainCodebooks(emb, m = 8, ksub = 16, iters = 2)
      // the q121 PCA recipe: k = 4 top eigenpairs + the mean vector
      val pcaRows = {
        import spark.implicits._
        graft.operators.Pca.fitTopK(emb, k = 4)
          .select("comp_id", "eigenvalue", "vector", "mean")
          .as[(Int, Double, Seq[Double], Seq[Double])].collect().sortBy(_._1)
      }
      (key, coarse, cb, pcaRows)
    }

    val out = new StringBuilder
    out ++= "package graft.operators\n\n"
    out ++= """/** Frozen k-means artifacts (round 12, VERDICT r11 #2): the coarse
  * 16-cell quantizer shared by IVF search (q44), SemDeDup clustering
  * (q86/q108), IVF-PQ (q109) and diversity sampling (q137), plus the
  * 8x16 PQ codebooks (q85/q109) -- committed as literals the way a
  * production vector index ships its quantizer: trained once per corpus
  * version, committed, APPLIED at query time. Freezing is what makes
  * the whole family DuckDB-oracle-expressible: both engines apply the
  * SAME centroids, so the oracle tests assignment, probing, ADC scoring
  * and re-ranking -- not Lloyd iteration, which stays first-class and
  * drift-gated in `FrozenCentroidsSpec` (retrain-on-fixture == frozen).
  *
  * Artifacts are keyed by fixture (dir basename): each synthetic
  * fixture draws its planted cluster structure independently, so a
  * quantizer fitted on one transfers at only ~0.6 recall to another
  * (measured round 12) -- per-corpus artifacts are the production
  * contract. Unknown corpora (e.g. scale probes) fall back to live
  * training via the `*For` accessors' None.
  *
  * Provenance: `graft.FreezeCentroids` -- coarse:
  * `Ivf.trainCentroids(nList=16, iters=2)`; codebooks:
  * `Pq.trainCodebooks(m=8, ksub=16, iters=2)` per fixture. Doubles are
  * shortest-round-trip literals, bit-identical across Scala and DuckDB
  * parsers. GENERATED FILE -- regenerate with the sbt command in
  * `FreezeCentroids.scala` rather than editing by hand.
  */
object FrozenCentroids {

"""
    for ((key, coarse, cb, pca) <- trained) {
      val id = key.replace(".", "_").replace("-", "_")
      out ++= s"  /** 16 x 64 coarse centroids for $key, cell id = row index. */\n"
      out ++= s"  val coarse16_$id: Vector[Vector[Double]] = Vector(\n"
      out ++= coarse.map(c => "    " + vec(c)).mkString(",\n")
      out ++= "\n  )\n\n"
      out ++= s"  /** PQ codebooks for $key: subspace j (of 8) -> code c (of 16) -> 8-dim centroid. */\n"
      out ++= s"  val pqCodebooks_$id: Vector[Vector[Vector[Double]]] = Vector(\n"
      out ++= cb.cents.map { sub =>
        "    Vector(\n" + sub.map(c => "      " + vec(c)).mkString(",\n") + "\n    )"
      }.mkString(",\n")
      out ++= "\n  )\n\n"
      out ++= s"  /** PCA for $key (q121 recipe, k=4): the shared mean, then (eigenvalue, component). */\n"
      out ++= s"  val pcaMean_$id: Vector[Double] =\n    " + vec(pca.head._4.toArray) + "\n\n"
      out ++= s"  val pcaEigen_$id: Vector[(Double, Vector[Double])] = Vector(\n"
      out ++= pca.map { case (_, lam, v, _) =>
        s"    ($lam,\n      " + vec(v.toArray) + ")"
      }.mkString(",\n")
      out ++= "\n  )\n\n"
    }
    val keys = trained.map(_._1)
    def mapEntries(f: String => String) =
      keys.map(k => s""""$k" -> ${f(k.replace(".", "_").replace("-", "_"))}""")
        .mkString(", ")
    out ++= s"  val coarse16BySf: Map[String, Vector[Vector[Double]]] =\n" +
      s"    Map(${mapEntries(id => s"coarse16_$id")})\n\n"
    out ++= s"  val pqCodebooksBySf: Map[String, Vector[Vector[Vector[Double]]]] =\n" +
      s"    Map(${mapEntries(id => s"pqCodebooks_$id")})\n\n"
    out ++= s"  val pcaMeanBySf: Map[String, Vector[Double]] =\n" +
      s"    Map(${mapEntries(id => s"pcaMean_$id")})\n\n"
    out ++= s"  val pcaEigenBySf: Map[String, Vector[(Double, Vector[Double])]] =\n" +
      s"    Map(${mapEntries(id => s"pcaEigen_$id")})\n\n"
    out ++= """  private def key(dir: String): String = new java.io.File(dir).getName

  /** Coarse centroids for a fixture dir; None -> caller trains live. */
  def coarseFor(dir: String): Option[Array[Array[Double]]] =
    coarse16BySf.get(key(dir)).map(_.map(_.toArray).toArray)

  /** PQ codebooks for a fixture dir; None -> caller trains live. */
  def codebooksFor(dir: String): Option[Pq.Codebooks] =
    pqCodebooksBySf.get(key(dir)).map(cb =>
      Pq.Codebooks(m = cb.size, dsub = cb.head.head.size,
        cents = cb.map(_.map(_.toArray).toArray).toArray))

  /** The sf0.01 artifacts, interpolated into the DuckDB oracle SQL
    * (`AnnSql`) -- the fixture the driver's correctness gate runs on.
    */
  def oracleCoarse16: Vector[Vector[Double]] = coarse16BySf("sf0.01")

  def oraclePqCodebooks: Vector[Vector[Vector[Double]]] =
    pqCodebooksBySf("sf0.01")

  def oraclePcaMean: Vector[Double] = pcaMeanBySf("sf0.01")

  def oraclePcaEigen: Vector[(Double, Vector[Double])] =
    pcaEigenBySf("sf0.01")
}
"""
    println(out.toString)
    spark.stop()
  }
}
