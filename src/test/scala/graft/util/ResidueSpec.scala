package graft.util

import graft.operators.{Bpe, DupGraph, GraftTable, Multimodal, WordPiece}
import graft.pipeline.DirtPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Zero residue: once an action over an operator's result completes —
  * successfully or not — none of the intermediates it materialized
  * (persisted or checkpointed RDDs) stays registered in the session,
  * and a second action over a lazily returned frame recomputes the same
  * rows. Generalizes the `getPersistentRDDs` polling of
  * `JaccardPrefixSpec` to every operator that holds intermediates.
  */
class ResidueSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("residue-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def persistent: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** RDDs registered since `before`, once at most `allowed` remain or
    * 10 s pass — lazy frames are released on the async listener bus.
    */
  private def residue(before: Set[Int], allowed: Int = 0): Set[Int] = {
    val deadline = System.nanoTime() + 10e9.toLong
    def now = persistent -- before
    while (now.size > allowed && System.nanoTime() < deadline)
      Thread.sleep(50)
    now
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** A lazily returned frame: nothing left after its first action, the
    * same rows from a second action, and nothing left after an action
    * that throws.
    */
  private def checkLazy(build: => DataFrame): Unit = {
    val before = persistent
    val df = build
    val first = rows(df)
    assert(first.nonEmpty)
    assert(residue(before).isEmpty, "intermediates survived the first action")
    assert(rows(df) == first, "a second action returned different rows")
    val failing = build
    intercept[Exception] {
      failing.select(raise_error(
        concat(lit("injected: "), col(failing.columns.head).cast("string"))))
        .collect()
    }
    assert(residue(before).isEmpty, "intermediates survived a failed action")
  }

  /** An eager function: nothing left once it returns or throws. */
  private def checkEager(body: => Any): Unit = {
    val before = persistent
    body
    assert(residue(before).isEmpty, "the function left materialized RDDs")
  }

  val corpus: Seq[String] = Seq(
    "die\tpatients/NNS/nsubj/2 die/VBP/ROOT/0 from/IN/prep/2 cancer/NN/pobj/3\t10",
    "die\tpeople/NNS/nsubj/2 die/VBP/ROOT/0 from/IN/prep/2 smoking/NN/pobj/3\t5",
    "die\tpatients/NNS/nsubj/2 die/VBP/ROOT/0 of/IN/prep/2 cancer/NN/pobj/3\t7",
    "die\tmen/NNS/nsubj/2 die/VBP/ROOT/0 of/IN/prep/2 boredom/NN/pobj/3\t2",
    "suffer\tpatients/NNS/nsubj/2 suffer/VBP/ROOT/0 from/IN/prep/2 cancer/NN/pobj/3\t4")
  val testSet: Seq[String] =
    Seq("X die from Y\tX die of Y", "X die from Y\tX suffer from Y")

  test("DirtPipeline.run releases triples, MI and its similarity intermediates") {
    import spark.implicits._
    checkLazy(DirtPipeline.run(spark, corpus.toDS(), testSet))
  }

  test("DirtPipeline.similarity releases its pair ids and sumMi slice") {
    import spark.implicits._
    checkLazy {
      val tr = DirtPipeline.triples(DirtPipeline.extractInstances(
        DirtPipeline.parseCorpus(corpus.toDS())))
      val mi = DirtPipeline.miFeatures(tr, DirtPipeline.swMargins(tr),
        DirtPipeline.psMargins(tr), DirtPipeline.globalN(tr))
      DirtPipeline.similarity(mi, DirtPipeline.sumMi(mi),
        DirtPipeline.testPairs(testSet).toDF("p1", "p2"))
    }
  }

  test("Multimodal.imageDupPairs and audioDupPairs release their hashes") {
    import spark.implicits._
    // the planted near-dup twins of MultimodalPhashSpec
    val images = (0L until 6L).flatMap { i =>
      val (a, b) = (1 + i.toInt, 1 + i.toInt)
      Seq((i, Multimodal.encodePatternPng(32, 32, a, b, noise = false)),
        (i + 100, Multimodal.encodePatternPng(32, 32, a, b, noise = true)))
    }.toDF("doc_id", "payload")
    checkLazy(Multimodal.imageDupPairs(images))
    val clips = (0L until 6L).flatMap { i =>
      val (a, b) = (1 + i.toInt, i.toInt % 5)
      Seq((i, Multimodal.encodeEnvelopeWav(a, b, noise = false)),
        (i + 100, Multimodal.encodeEnvelopeWav(a, b, noise = true)))
    }.toDF("doc_id", "payload")
    checkLazy(Multimodal.audioDupPairs(clips))
  }

  private def freshRoot(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_residue_").toFile
    d.delete()
    d.toString
  }

  private def changes(k: Long) = {
    import spark.implicits._
    Seq((k, s"n$k", k * 1.0, "U", 1L), (k + 1, "new", 0.0, "I", 1L))
      .toDF("k", "name", "bal", "op", "seq")
  }

  test("GraftTable.merge and mergePruned free their changelog on commit and on conflict") {
    import spark.implicits._
    val base = (1L to 40L).map(i => (i, s"n$i", i * 1.0)).toDF("k", "name", "bal")
    val plain = freshRoot()
    GraftTable.create(base, plain)
    checkEager(assert(GraftTable.merge(plain, changes(3L), "k", Seq("seq"), 0L) == 1L))
    checkEager(intercept[GraftTable.ConflictException] {
      GraftTable.merge(plain, changes(5L), "k", Seq("seq"), 0L)
    })
    val pruned = freshRoot()
    GraftTable.createPartitioned(base, pruned, "k", numFiles = 4)
    checkEager(assert(
      GraftTable.mergePruned(pruned, changes(3L), "k", Seq("seq"), 0L) == 1L))
    checkEager(intercept[GraftTable.ConflictException] {
      GraftTable.mergePruned(pruned, changes(5L), "k", Seq("seq"), 0L)
    })
  }

  test("GraftTable.mergeBatchIdempotent frees its changelog on commit and on failure") {
    import spark.implicits._
    val root = freshRoot()
    def batch(k: Long) = Seq((k, 1L, s"n$k"), (k + 1, 1L, "x")).toDF("k", "seq", "name")
    for ((b, id) <- Seq(batch(1L) -> 0L, batch(2L) -> 1L))
      checkEager(assert(GraftTable.mergeBatchIdempotent(b, id, root, "w", "k", Seq("seq"))))
    checkEager(intercept[IllegalArgumentException] {
      GraftTable.mergeBatchIdempotent(batch(3L).withColumn("extra", lit(1)),
        2L, root, "w", "k", Seq("seq"))
    })
  }

  test("GraftTable merges free their changelog pin when its plan throws") {
    import spark.implicits._
    val base = (1L to 40L).map(i => (i, s"n$i", i * 1.0)).toDF("k", "name", "bal")
    // on a range, not a local Seq: a projection over a local relation is
    // evaluated while the query is planned, before the pin's RDD exists
    val failing = spark.range(3, 5).select(col("id").as("k"),
      raise_error(lit("injected: changelog")).cast("string").as("name"),
      lit(0.0).as("bal"), lit("U").as("op"), lit(1L).as("seq"))
    val plain = freshRoot()
    GraftTable.create(base, plain)
    checkEager(assert(thrownFor(intercept[Exception] {
      GraftTable.merge(plain, failing, "k", Seq("seq"), 0L)
    }, "injected: changelog")))
    val pruned = freshRoot()
    GraftTable.createPartitioned(base, pruned, "k", numFiles = 4)
    checkEager(assert(thrownFor(intercept[Exception] {
      GraftTable.mergePruned(pruned, failing, "k", Seq("seq"), 0L)
    }, "injected: changelog")))
    checkEager(assert(thrownFor(intercept[Exception] {
      GraftTable.mergeBatchIdempotent(failing.select("k", "seq", "name"), 0L,
        freshRoot(), "w", "k", Seq("seq"))
    }, "injected: changelog")))
  }

  test("a gated declared query frees its held frames after its first action") {
    checkLazy(graft.queries.PipelineQueries.q40.run(spark, ""))
  }

  test("release frees a checkpoint root, never a checkpoint beneath a persisted frame") {
    val ck = spark.range(100).toDF("id").localCheckpoint(true)
    val ckRdd = ck.queryExecution.analyzed match { case lr: LogicalRDD => lr.rdd.id }
    val evens = ck.filter(col("id") % 2 === 0).persist()
    assert(evens.count() == 50L)
    CacheRelease.release(evens)
    assert(evens.storageLevel == StorageLevel.NONE)
    assert(persistent.contains(ckRdd))
    assert(ck.count() == 100L)
    CacheRelease.release(ck)
    assert(!persistent.contains(ckRdd))
  }

  test("DupGraph.components and pageRank leave only the checkpoint behind their result") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id1", "id2")
    for (op <- Seq[DataFrame => DataFrame](DupGraph.components(_),
        DupGraph.pageRank(_))) {
      val before = persistent
      assert(op(pairs).count() == 6L)
      assert(residue(before, allowed = 1).size == 1)
    }
  }

  test("DupGraph.components frees every checkpoint when it does not converge") {
    import spark.implicits._
    // an 8-node path is no star forest after one round
    val path = (0L until 7L).map(i => (i, i + 1)).toDF("id1", "id2")
    checkEager(intercept[IllegalArgumentException] {
      DupGraph.components(path, maxIter = 1)
    })
    assert(DupGraph.components(path).count() == 8L)
  }

  /** Whether `e` or one of its causes has `text` in its message. */
  private def thrownFor(e: Throwable, text: String): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains(text))

  test("Rounds frees every checkpoint when round 2 throws, lazy or eager") {
    for (eager <- Seq(false, true)) {
      checkEager(assert(thrownFor(intercept[Exception] {
        Rounds.run { rounds =>
          def checkpoint(df: DataFrame) =
            if (eager) rounds.eagerly(df) else rounds.lazily(df)
          val ids = rounds.shared(spark.range(40).toDF("id"))
          rounds.iterate(checkpoint(ids)) { (df, k) =>
            assert(df.count() == 40L) // round k's action
            val next = df.select((col("id") + 1).as("id"))
            // round 2's rows raise: its eager fill, or the lazy round's
            // action in step 2, throws
            Right(checkpoint(if (k == 0) next
              else next.select(raise_error(lit("injected: round 2")).as("id"))))
          }
        }
      }, "injected: round 2")))
    }
  }

  test("DupGraph.pageRank frees every checkpoint when a later round overflows") {
    import spark.implicits._
    // an 8-clique with a 3-node tail on every member: at this scale the
    // clique's contribution sum first exceeds 2^63 / 85 in iteration 3,
    // so round 1 (iterations 1-2) succeeds and round 2 overflows
    val clique = for (a <- 0L until 8L; b <- a + 1 until 8L) yield (a, b)
    val tails = for (a <- 0L until 8L; k <- 0L until 3L)
      yield (if (k == 0) a else 8 + 3 * a + k - 1, 8 + 3 * a + k)
    val graph = (clique ++ tails).toDF("id1", "id2")
    val scale = 2200000000000000000L
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val before = persistent
      assert(DupGraph.pageRank(graph, iterations = 2, scale = scale).count() == 32L)
      assert(residue(before, allowed = 1).size == 1)
      checkEager(assert(thrownFor(intercept[Exception] {
        DupGraph.pageRank(graph, iterations = 4, scale = scale).collect()
      }, "ARITHMETIC_OVERFLOW")))
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  /** Runs `body` with the `n`-th query it plans that holds a limit (a
    * merge round's argmax collect) throwing in the optimizer.
    */
  private def failingArgmax[T](n: Int)(body: => T): T = {
    var seen = 0
    val failNth = new Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = {
        if (plan.exists(_.isInstanceOf[GlobalLimit])) {
          seen += 1
          if (seen == n) throw new IllegalStateException(s"injected: argmax $n")
        }
        plan
      }
    }
    spark.experimental.extraOptimizations = Seq(failNth)
    try body
    finally spark.experimental.extraOptimizations = Nil
  }

  test("Bpe and WordPiece merge training free every round, on success and when round 2 throws") {
    import spark.implicits._
    val docs = Seq("low lower lowest", "newer newest wider", "low new wide")
      .toDF("text")
    for (train <- Seq[Int => DataFrame](Bpe.trainMerges(docs, _),
        WordPiece.trainMerges(docs, _))) {
      checkEager(assert(train(4).count() == 4L))
      checkEager(intercept[IllegalStateException] {
        failingArgmax(3)(train(4))
      })
    }
  }
}
