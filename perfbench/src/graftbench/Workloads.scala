package graftbench

import graft.eval.Evaluate
import graft.operators.{Dedup, DupGraph, GraftTable}
import graft.pipeline.{DirtCli, DirtPipeline}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, count, countDistinct, lit, pmod}
import org.apache.spark.storage.StorageLevel

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** What a workload body sees. In a timed execution every hook is a
  * pass-through; in the traced execution each layer runs under its own
  * span and job group, and layer outputs are materialized at the
  * boundary so the next layer's work is not folded into this one.
  */
trait Ctx {
  def spark: SparkSession
  def traced: Boolean
  def layer[T](name: String)(body: => T): T
  /** Persists and counts `ds` when traced, recording the count. */
  def boundary[T](metric: String, ds: Dataset[T]): Dataset[T]
  def record(metric: String, value: => Double): Unit
  /** Work only the traced run does, outside every layer. */
  def probe(body: => Unit): Unit
}

final class TimedCtx(val spark: SparkSession) extends Ctx {
  def traced = false
  def layer[T](name: String)(body: => T): T = body
  def boundary[T](metric: String, ds: Dataset[T]): Dataset[T] = ds
  def record(metric: String, value: => Double): Unit = ()
  def probe(body: => Unit): Unit = ()
}

final class TracedCtx(val spark: SparkSession, tracer: Tracer)
    extends Ctx {
  val counts = scala.collection.mutable.Map.empty[String, Double]
  def traced = true

  def inGroup[T](group: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = Option(sc.getLocalProperty(Collector.JobGroupKey))
    sc.setJobGroup(group, group)
    try tracer.span(group)(body)
    finally prev.fold(sc.clearJobGroup())(p => sc.setJobGroup(p, p))
  }

  def layer[T](name: String)(body: => T): T = inGroup(name)(body)

  def boundary[T](metric: String, ds: Dataset[T]): Dataset[T] = {
    val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
    counts(metric) = p.count().toDouble
    p
  }

  def record(metric: String, value: => Double): Unit = counts(metric) = value
  def probe(body: => Unit): Unit = inGroup("probe")(body)
}

/** One benchmark workload: a seeded input, one execution over it through
  * the engine's public functions, and the checks its answer must pass.
  */
abstract class Workload {
  type Answer
  def name: String
  /** Input rows one execution processes. */
  def inputRows: Long
  /** Untimed executions before timing starts. The first runs 1.7-3x
    * slower (JIT, codegen), and query planning keeps speeding up
    * for a few executions more; a cheap workload affords more of them.
    */
  def warmups: Int
  /** Timed executions a run makes however fast they go. The first ones
    * are still warming up, so the count must not depend on machine speed:
    * if it did, a slow spell would take fewer samples and a median leaning
    * on the slower first one, which widens the spread between runs.
    */
  def minSamples: Int = 2
  /** Writes the seeded input under `dir`; returns its hash. */
  def generate(spark: SparkSession, dir: String): String
  /** One execution; `scratch` is an empty directory it may write to. */
  def execute(ctx: Ctx, dir: String, scratch: String): Answer
  /** Failed checks; empty when the answer is right. */
  def check(a: Answer): Seq[String]
  /** Deliberately wrong variants of a right answer, each named by what
    * it breaks, for the self-test. Every one must fail [[check]].
    */
  def corruptions(a: Answer): Seq[(String, Answer)]
  /** Whether two executions gave the same answer. */
  def same(a: Answer, b: Answer): Boolean = a == b
  /** Per-commit latencies, for workloads that commit. */
  def commitMs(a: Answer): Seq[Double] = Nil
}

object Workloads {
  val names: Seq[String] = Seq("dirt_corpus", "dedup_ingest", "dirt_pairs")

  def apply(name: String, seed: Long): Workload = name match {
    case "dirt_corpus" => new DirtCorpus(seed, lines = 100000)
    case "dedup_ingest" => new DedupIngest(seed, docs = 8400, batches = 12)
    case "dirt_pairs" => new DirtPairs(seed, groups = 300)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${names.mkString(", ")})")
  }

  val mem: StorageLevel = StorageLevel.MEMORY_AND_DISK

  /** The DIRT lineage stage by stage, as [[DirtPipeline.run]] composes
    * it, with the stages exposed as layers. Only traced executions use
    * it; timed ones call [[DirtPipeline.run]] itself. Returns the scored
    * pairs and global N.
    */
  def dirtStages(ctx: Ctx, corpus: Dataset[String],
      testLines: Seq[String]): (DataFrame, Long) = {
    import DirtPipeline._
    val spark = ctx.spark
    import spark.implicits._
    val inst = ctx.layer("text")(ctx.boundary("text.instances",
      extractInstances(parseCorpus(corpus))))
    val (tr, n) = ctx.layer("pipeline.triples") {
      val tr = ctx.boundary("pipeline.triples.rows", triples(inst).persist(mem))
      (tr, globalN(tr))
    }
    val mi = ctx.layer("pipeline.mi")(ctx.boundary("pipeline.mi.rows",
      miFeatures(tr, swMargins(tr), psMargins(tr), n).persist(mem)))
    val pairs = testPairs(testLines).toDF("p1", "p2")
    val scored = ctx.layer("pipeline.similarity")(ctx.boundary(
      "pipeline.similarity.pairs", similarity(mi, sumMi(mi), pairs)))
    (scored, n)
  }

  def scoredRows(df: DataFrame): Seq[(String, String, Double)] =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .toSeq.sortBy(r => (r._1, r._2))

  /** Answers agree when they hold the same pairs with scores within 1e-9.
    * Scores are not bit-identical from one execution to the next: the
    * double sums behind them add in shuffle-fetch order, which moves the
    * last bit (0.8146712070706141 vs ...139, 1.0000000000000002 for an
    * exact 1).
    */
  def sameScores(a: Seq[(String, String, Double)],
      b: Seq[(String, String, Double)]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) =>
      x._1 == y._1 && x._2 == y._2 && math.abs(x._3 - y._3) <= 1e-9
    }

  /** Regular files under `root` (checksum side files excluded): count, bytes. */
  def filesUnder(root: String): (Long, Long) = {
    val s = Files.walk(Paths.get(root))
    try {
      val fs = s.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.endsWith(".crc")).toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    } finally s.close()
  }

  /** Verb stem of a DIRT path `N:<nsubj:V:<stem>:...`. */
  def verbOf(path: String): String = path.split(":")(3)
}

import Workloads._

/** Planted closed-form corpus; every path is a test-pair member, so
  * similarity and MI do most of the work over many distinct long keys.
  */
final class DirtPairs(seed: Long, groups: Int) extends Workload {
  type Answer = Seq[(String, String, Double)]
  val name = "dirt_pairs"
  val warmups = 2
  private val corpus = new Planted(seed, groups)
  def inputRows: Long = corpus.lines
  def generate(spark: SparkSession, dir: String): String = Gen.hash(
    Iterator(Gen.writeParts(s"$dir/corpus", corpus.lines)(corpus.line)) ++
      corpus.testSet)

  def execute(ctx: Ctx, dir: String, scratch: String): Answer = {
    val lines = ctx.spark.read.textFile(s"$dir/corpus")
    scoredRows(
      if (ctx.traced) dirtStages(ctx, lines, corpus.testSet)._1
      else DirtPipeline.run(ctx.spark, lines, corpus.testSet))
  }

  def check(a: Answer): Seq[String] = {
    val expected = 3L * groups
    val wrong = a.filter { case (p1, p2, s) =>
      val fam = corpus.familyOf.get(verbOf(p1))
      fam.isEmpty || verbOf(p2) != verbOf(p1) || (fam.get match {
        case 0 => math.abs(s - 1.0) > 1e-9
        case 1 => s != 0.0
        case _ => !(s > 0.0 && s < 1.0)
      })
    }
    (if (a.length != expected) Seq(s"${a.length} scored pairs, expected $expected")
     else Nil) ++
      wrong.take(3).map(w => s"pair off its closed form: $w")
  }

  def corruptions(a: Answer): Seq[(String, Answer)] = Seq(
    "twins scored 0.5" -> a.map { case (p1, p2, s) =>
      (p1, p2, if (corpus.familyOf.get(verbOf(p1)).contains(0)) 0.5 else s)
    },
    "a pair missing" -> a.tail)

  override def same(a: Answer, b: Answer): Boolean = sameScores(a, b)
}

/** `globalN` is known only to the traced execution, which runs the
  * pipeline stage by stage; the timed one calls [[DirtPipeline.run]].
  */
final case class LifecycleAnswer(scored: Seq[(String, String, Double)],
    globalN: Option[Long], positivePairs: Int, f1: Double, tsvLines: Long)

/** Zipf corpus through the whole lifecycle: pipeline, TSV sink and the
  * evaluation sweep, over a few hot keys and 10 test pairs.
  */
final class DirtCorpus(seed: Long, lines: Long) extends Workload {
  type Answer = LifecycleAnswer
  val name = "dirt_corpus"
  val warmups = 2
  // three 4-6 s executions always fill the 12 s a run measures
  override val minSamples = 3
  private val corpus = new Zipf(seed, lines)
  private var first: Option[Seq[(String, String, Double)]] = None
  def inputRows: Long = lines
  def generate(spark: SparkSession, dir: String): String = Gen.hash(
    Iterator(Gen.writeParts(s"$dir/corpus", lines)(corpus.line)) ++
      corpus.testSet ++ corpus.positives)

  def execute(ctx: Ctx, dir: String, scratch: String): Answer = {
    val lines = ctx.spark.read.textFile(s"$dir/corpus")
    val (st, n) =
      if (ctx.traced) {
        val (st, n) = dirtStages(ctx, lines, corpus.testSet)
        (st, Some(n))
      } else (DirtPipeline.run(ctx.spark, lines, corpus.testSet), None)
    val scored = st.persist(mem)
    val out = s"$scratch/tsv"
    ctx.layer("pipeline.sink")(DirtCli.writeTsv(scored, out))
    val report = ctx.layer("eval")(
      Evaluate.evaluate(scored, corpus.positives, corpus.negatives))
    val parts = Files.list(Paths.get(out)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    ctx.record("pipeline.sink.bytes", parts.map(Files.size).sum.toDouble)
    LifecycleAnswer(scoredRows(scored), n, report.scoredPairs,
      report.best.f1, parts.map(p => Files.readAllLines(p).size.toLong).sum)
  }

  def check(a: Answer): Seq[String] = {
    val rows = a.scored
    val positive = rows.count(_._3 > 0.0)
    val ref = first.getOrElse { first = Some(rows); rows }
    Seq(
      a.globalN.forall(_ == corpus.globalN) ->
        s"global N ${a.globalN.mkString}, expected ${corpus.globalN}",
      (rows.length == 10) -> s"${rows.length} scored pairs, expected 10",
      // exactly 1 can come out one ulp above (see sameScores)
      rows.forall(r => r._3 >= 0.0 && r._3 <= 1.0 + 1e-9) ->
        s"a score outside [0, 1]: ${rows.find(r => r._3 < 0.0 || r._3 > 1.0 + 1e-9)}",
      (positive >= 1) -> "no positive score",
      (a.positivePairs == positive) -> s"evaluation saw ${a.positivePairs} positive pairs, scored $positive",
      (a.f1 >= 0.0 && a.f1 <= 1.0) -> s"F1 ${a.f1} outside [0, 1]",
      (a.tsvLines == rows.length) -> s"TSV holds ${a.tsvLines} lines for ${rows.length} pairs",
      sameScores(rows, ref) -> "output differs from this seed's first execution"
    ).collect { case (false, msg) => msg }
  }

  def corruptions(a: Answer): Seq[(String, Answer)] = Seq(
    "global N off its closed form" -> a.copy(globalN = Some(corpus.globalN + 2)),
    "a score above 1" -> a.copy(scored =
      a.scored.head.copy(_3 = 1.5) +: a.scored.tail),
    "a pair missing" -> a.copy(scored = a.scored.tail))
  override def same(a: Answer, b: Answer): Boolean =
    sameScores(a.scored, b.scored) && a.positivePairs == b.positivePairs &&
      a.tsvLines == b.tsvLines
}

final case class CurationAnswer(pairs: Seq[(Long, Long)], nodes: Long,
    components: Long, kept: Seq[Long], committed: Int,
    replayAccepted: Boolean, perBatch: Map[Long, Long], middleRows: Long,
    commitMs: Seq[Double])

/** Near-duplicate removal, then publication: candidates, verify,
  * components and the drop, then the kept documents appended to a
  * versioned table in idempotent batches, a replayed batch that must be
  * refused, a full read and a time-travel read. No DIRT code runs.
  */
final class DedupIngest(seed: Long, docs: Long, batches: Int)
    extends Workload {
  type Answer = CurationAnswer
  val name = "dedup_ingest"
  val warmups = 1
  private val corpus = new NearDups(seed, docs)
  private val middle = batches / 2
  // three stopwords in every doc: the naive join volume is 3·n², and it
  // must exceed the routing limit so the prefix-filter path runs and the
  // shuffle stays linear in n
  require(3.0 * docs * docs > Dedup.DefaultNaiveBlockVolume,
    s"$docs docs would route the quadratic naive join")
  def inputRows: Long = docs

  // parquet, like the engine's document fixtures
  def generate(spark: SparkSession, dir: String): String = {
    val hash = Gen.writeParts(s"$dir/docs.tsv", docs)(i =>
      s"$i\t${corpus.text(i)}\ten\t100")
    spark.read.option("sep", "\t")
      .schema("doc_id LONG, text STRING, lang STRING, n_chars LONG")
      .csv(s"$dir/docs.tsv").write.mode("overwrite").parquet(s"$dir/docs")
    hash
  }

  def execute(ctx: Ctx, dir: String, scratch: String): Answer = {
    val spark = ctx.spark
    val docsDf = spark.read.parquet(s"$dir/docs")
    var candidates = 0L
    ctx.probe {
      candidates = Dedup.jaccardCandidates(docsDf, threshold = 0.5).count()
    }
    val pairs = ctx.layer("dedup") {
      val p = Dedup.jaccardPairs(docsDf, threshold = 0.5).persist(mem)
      p.count()
      p
    }
    val (nodes, comps, kept) = ctx.layer("dupgraph") {
      val c = DupGraph.components(pairs).persist(mem)
      val stats = c.agg(count(lit(1)), countDistinct(col("component"))).head()
      val kept = DupGraph.dropNearDupsByComponents(docsDf, c).persist(mem)
      kept.count()
      (stats.getLong(0), stats.getLong(1), kept)
    }
    val root = s"$scratch/table"
    val batchOf = pmod(col("doc_id"), lit(batches.toLong))
    val commitMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val (committed, replay, perBatch, mid) = ctx.layer("table") {
      val frames = (0 until batches).map(b => kept.filter(batchOf === b))
      val committed = frames.zipWithIndex.count { case (df, b) =>
        val t0 = System.nanoTime()
        val ok = GraftTable.appendBatchIdempotent(df, b.toLong, root, "graftbench")
        commitMs += (System.nanoTime() - t0) / 1e6
        ok
      }
      val replay = GraftTable.appendBatchIdempotent(frames(middle),
        middle.toLong, root, "graftbench")
      val perBatch = GraftTable.read(spark, root).groupBy(batchOf).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // version v holds batches 0..v
      val mid = GraftTable.readVersion(spark, root, middle - 1L).count()
      (committed, replay, perBatch, mid)
    }
    lazy val (files, bytes) = filesUnder(root)
    ctx.record("table.files_written", files.toDouble)
    ctx.record("table.bytes_written", bytes.toDouble)
    val ps = pairs.select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    ctx.record("dedup.candidates", candidates.toDouble)
    ctx.record("dedup.pairs", ps.length.toDouble)
    ctx.record("dedup.useful_ratio", ps.length / math.max(1.0, candidates))
    ctx.record("dupgraph.components", comps.toDouble)
    CurationAnswer(ps, nodes, comps, keptIds, committed, replay, perBatch,
      mid, commitMs.toSeq)
  }

  def check(a: Answer): Seq[String] = {
    val half = docs / 2
    val strangers = a.pairs.filter { case (x, y) =>
      corpus.family(x) != corpus.family(y)
    }
    val keptPerBatch = a.kept.groupBy(Math.floorMod(_, batches.toLong))
      .map { case (b, ids) => b -> ids.size.toLong }
    Seq(
      (a.pairs.length == half) -> s"${a.pairs.length} pairs, expected $half",
      strangers.isEmpty -> s"pairs across families: ${strangers.take(3)}",
      (a.nodes == docs) -> s"${a.nodes} labelled nodes, expected $docs",
      (a.components == half) -> s"${a.components} components, expected $half",
      (a.kept.length == half && a.kept.map(corpus.family).distinct.length == half) ->
        s"${a.kept.length} docs kept, expected one of each of $half families",
      (a.committed == batches) -> s"${a.committed} of $batches appends committed",
      (!a.replayAccepted) -> "the replayed batch was committed again",
      (a.perBatch == keptPerBatch) ->
        s"latest version holds ${a.perBatch.values.sum} rows, kept ${a.kept.length}",
      (a.middleRows == keptPerBatch.filter(_._1 < middle).values.sum) ->
        s"version ${middle - 1} holds ${a.middleRows} rows"
    ).collect { case (false, msg) => msg }
  }

  def corruptions(a: Answer): Seq[(String, Answer)] = {
    // the drop kept one document too many: the other twin of a kept one,
    // published with the rest
    val keptSet = a.kept.toSet
    val extra = (0L until docs).find(d => !keptSet(d)).get
    val b = Math.floorMod(extra, batches.toLong)
    Seq(
      "the replayed batch committed" -> a.copy(replayAccepted = true),
      "both twins of a family kept" -> a.copy(
        kept = (a.kept :+ extra).sorted,
        perBatch = a.perBatch.updated(b, a.perBatch.getOrElse(b, 0L) + 1),
        middleRows = a.middleRows + (if (b < middle) 1 else 0)),
      "a pair across families" -> a.copy(pairs =
        (a.pairs.head._1, a.pairs.last._2) +: a.pairs.tail.init :+
          (a.pairs.last._1, a.pairs.head._2)))
  }
  override def same(a: Answer, b: Answer): Boolean =
    a.copy(commitMs = Nil) == b.copy(commitMs = Nil)
  override def commitMs(a: Answer): Seq[Double] = a.commitMs
}
