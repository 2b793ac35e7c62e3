package graft

import graft.obs.{Exchange, Ledger, Region}
import graft.pipeline.DirtPipeline
import graft.util.Json.quote
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.storage.StorageLevel

import java.nio.file.{Files, Paths}

/** The profiling tool: where each named body's time, jobs, shuffle
  * bytes, spill and memory went, from one [[graft.obs.Ledger]].
  *
  * Usage: `runMain graft.Profile [--plans <dir>] <name>...`
  *
  * A name is a bench entry (a composite such as `cx_dedup_graph`, or a
  * synthetic entry, sharing its body with [[Bench]] verbatim), a
  * declared query (`SparkEntry.queries`, run to a `count()`), one of
  * the operator frames `star_round`, `minhash_pairs`, `dirt_mi`,
  * `dirt_similarity_unpersisted` (run to the `noop` sink), or
  * `dirt_phases`: the planted DIRT corpus through four labelled
  * phases (parse+extract, triples, mi, similarity) over persisted
  * triples and MI. With no names, the five heavy queries of the
  * memory-pressure probe run.
  *
  * Each name runs after Bench's warm-up, `SPARK_GRAFT_REPS` times
  * (default 3), with the cache cleared between reps. One JSON line per
  * name: the seconds of each rep with their min, median and max, and
  * each rep's ledger record (jobs, stages, tasks, shuffle write,
  * spill, peak execution memory, GC, and per action the final plan's
  * exchange statistics). A failed name carries its `error`, and the
  * tool exits 1 if any name failed. `--plans <dir>` writes the
  * formatted final plan of each action of the first rep to
  * `<dir>/<name>_<i>.txt`.
  *
  * Environment: `SPARK_GRAFT_SF_DIR` (default as in Bench),
  * `SPARK_GRAFT_CPUS` (4), `SPARK_GRAFT_REPS`, `SPARK_GRAFT_DIRT_ROWS`
  * and `SPARK_GRAFT_JACCARD_DOCS` (the synthetic entries' sizes, as in
  * Bench), `SPARK_GRAFT_PLANTED_GROUPS` (the planted corpus of the DIRT
  * frames and `dirt_phases`, default 41667: bench scale, so static size
  * estimates pick the join strategies the timed entries plan) and
  * `SPARK_GRAFT_MEM_FRACTION` (`spark.memory.fraction`, default 0.6;
  * lower it to make execution memory scarce and see operators spill).
  */
object Profile {

  val DefaultNames: Seq[String] = Seq("q32_dedup_jaccard",
    "q68_dedup_components", "q78_curate_corpus_pipeline",
    "q110_fuzzy_join_editdist", "q114_bpe_encode")

  private def noop(ds: Dataset[_]): Unit =
    ds.write.format("noop").mode("overwrite").save()

  private def knob(env: Map[String, String], name: String, default: String) =
    env.getOrElse(s"SPARK_GRAFT_$name", default)

  private def sfDir(env: Map[String, String]) =
    knob(env, "SF_DIR", Bench.DefaultSfDir)

  /** Every name the tool resolves, to its runnable body. */
  private def bodies(spark: SparkSession, env: Map[String, String],
      ledger: Ledger): Map[String, () => Unit] = {
    import spark.implicits._
    val sf = sfDir(env)
    val groups = knob(env, "PLANTED_GROUPS", "41667").toInt
    val pb = graft.queries.PlantedBiarc
    def planted = DirtPipeline.parseCorpus(pb.scaledLines(spark, groups))
    def plantedMi = {
      val tr = DirtPipeline.triples(DirtPipeline.extractInstances(planted))
      DirtPipeline.miFeatures(tr, DirtPipeline.swMargins(tr),
        DirtPipeline.psMargins(tr), 1000L)
    }
    def plantedPairs =
      DirtPipeline.testPairs(pb.scaledTestSet(groups)).toDF("p1", "p2")

    val frames: Map[String, () => Dataset[_]] = Map(
      // one composed star round: the per-iteration body of
      // DupGraph.components, which runs behind checkpoint boundaries
      // no declared query's plan shows
      "star_round" -> (() => graft.operators.DupGraph.smallStar(
        graft.operators.DupGraph.largeStar(
          Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 5L)).toDS()))),
      // the minhash candidate-verify stage (q33/q136/cx_dedup_micro)
      "minhash_pairs" -> (() => graft.operators.Dedup.minhashPairs(
        Tables.documents(spark, sf), threshold = 0.7)),
      // triples, margins and MI: the aggregation phase of q40
      "dirt_mi" -> (() => plantedMi),
      // the whole DIRT lineage without persist boundaries: every
      // exchange of the pipeline in one plan
      "dirt_similarity_unpersisted" -> (() => {
        val mi = plantedMi
        DirtPipeline.similarity(mi, DirtPipeline.sumMi(mi), plantedPairs)
      }))

    val dirtPhases = "dirt_phases" -> (() => {
      ledger.region("parse+extract") {
        noop(DirtPipeline.extractInstances(planted))
      }
      val tr = DirtPipeline.triples(DirtPipeline.extractInstances(planted))
        .persist(StorageLevel.MEMORY_AND_DISK)
      var n = 0L
      ledger.region("triples") { n = DirtPipeline.globalN(tr) }
      val mi = DirtPipeline.miFeatures(tr, DirtPipeline.swMargins(tr),
        DirtPipeline.psMargins(tr), n).persist(StorageLevel.MEMORY_AND_DISK)
      ledger.region("mi") { noop(mi) }
      ledger.region("similarity") {
        noop(DirtPipeline.similarity(mi, DirtPipeline.sumMi(mi), plantedPairs))
      }
      graft.util.CacheRelease.release(tr, mi)
    })

    SparkEntry.queries.map { case (name, fn) =>
      name -> (() => { fn(spark, sf).count(); () })
    } ++
      Bench.syntheticRunners(spark, knob(env, "DIRT_ROWS", "200000").toLong,
        knob(env, "JACCARD_DOCS", "50000").toLong) ++
      Bench.compositeRunners(spark, sf) ++
      frames.map { case (name, frame) => name -> (() => noop(frame())) } +
      dirtPhases
  }

  /** Profiles `names` and prints one JSON line per name; false if any
    * name failed.
    */
  def run(spark: SparkSession, env: Map[String, String], names: Seq[String],
      plans: Option[String]): Boolean = {
    val ledger = new Ledger(spark)
    val lookup = bodies(spark, env, ledger)
    val reps = knob(env, "REPS", "3").toInt.max(1)
    val sf = sfDir(env)
    plans.foreach(d => Files.createDirectories(Paths.get(d)))
    Bench.warmUp(spark, sf)

    names.map { name =>
      val regions = scala.collection.mutable.ArrayBuffer.empty[Region]
      val error =
        try {
          val body = lookup.getOrElse(name, sys.error(s"unknown name: $name"))
          (1 to reps).foreach { _ =>
            try regions += ledger.region(name)(body())
            finally spark.catalog.clearCache()
          }
          None
        } catch {
          case e: Throwable => Some(Option(e.getMessage)
            .getOrElse(e.getClass.getName).linesIterator.take(1).mkString.take(200))
        }
      for (dir <- plans; first <- regions.headOption)
        first.allActions.zipWithIndex.foreach { case (qe, i) =>
          Files.writeString(Paths.get(dir, s"${name}_$i.txt"),
            qe.explainString(ExplainMode.fromString("formatted")))
        }
      val secs = regions.map(_.seconds).toSeq
      val sorted = secs.sorted
      def stat(f: Seq[Double] => Double) =
        if (secs.isEmpty) "null" else f(sorted).toString
      println(s"""{"metric":"profile","name":${quote(name)},""" +
        s""""sf":${quote(sf)},"cpus":${spark.sparkContext.defaultParallelism},""" +
        s""""heap_max_bytes":${Runtime.getRuntime.maxMemory()},"reps":$reps,""" +
        s""""seconds":${secs.mkString("[", ",", "]")},""" +
        s""""min":${stat(_.head)},"median":${stat(s => s(s.size / 2))},""" +
        s""""max":${stat(_.last)},""" +
        s""""regions":${regions.map(json).mkString("[", ",", "]")},""" +
        s""""error":${error.fold("null")(quote)}}""")
      error.isEmpty
    }.forall(identity)
  }

  private def json(e: Exchange): String =
    s"""{"output":${quote(e.output.mkString(","))},"data_size":${e.dataSize},""" +
      s""""bytes_written":${e.bytesWritten},"records_written":${e.recordsWritten}}"""

  private def json(r: Region): String =
    s"""{"label":${quote(r.label)},"seconds":${r.seconds},"jobs":${r.jobs},""" +
      s""""stages":${r.stages},"tasks":${r.tasks},""" +
      s""""shuffle_bytes_written":${r.shuffleBytesWritten},""" +
      s""""shuffle_records_written":${r.shuffleRecordsWritten},""" +
      s""""memory_bytes_spilled":${r.memoryBytesSpilled},""" +
      s""""disk_bytes_spilled":${r.diskBytesSpilled},""" +
      s""""peak_execution_memory":${r.peakExecutionMemory},"gc_ms":${r.gcMs},""" +
      s""""actions":${r.exchanges.map(_.map(json).mkString("[", ",", "]"))
        .mkString("[", ",", "]")},""" +
      s""""regions":${r.nested.map(json).mkString("[", ",", "]")}}"""

  def main(args: Array[String]): Unit = {
    val (plans, names) = args.toList match {
      case "--plans" :: dir :: rest => (Some(dir), rest)
      case rest => (None, rest)
    }
    val spark = LocalSession.fromEnv("spark.memory.fraction" ->
      sys.env.getOrElse("SPARK_GRAFT_MEM_FRACTION", "0.6"))
    val ok =
      try run(spark, sys.env, if (names.isEmpty) DefaultNames else names, plans)
      finally spark.stop()
    if (!ok) sys.exit(1)
  }
}
