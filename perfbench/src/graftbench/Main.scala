package graftbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Command line: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> [--trace-out <file>]`, or `--selftest --work <dir>`.
  * `perfbench/run.py` builds the classpath and supplies `--work`.
  */
object Main {
  final case class Opts(workload: String = "", seed: Long = 0L,
      seconds: Double = 10.0, trace: Boolean = false, work: String = "",
      traceOut: String = "", selftest: Boolean = false)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case Nil => o
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--trace-out" :: v :: t => parse(t, o.copy(traceOut = v))
    case "--selftest" :: t => parse(t, o.copy(selftest = true))
    case other => throw new IllegalArgumentException(s"bad arguments: $other")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    require(o.work.nonEmpty, "--work <dir> is required")
    sys.exit(if (o.selftest) SelfTest.run(o) else Runner.run(o))
  }
}

/** Failed checks and thrown executions against executions attempted. */
final class Tally {
  var attempted = 0
  var failed = 0
  val errors = ArrayBuffer.empty[String]
  def fail(why: Seq[String]): Unit = { failed += 1; errors ++= why }
}

object Runner {
  val Layers: Seq[String] = Seq("text", "pipeline.triples", "pipeline.mi",
    "pipeline.similarity", "pipeline.sink", "eval", "dedup", "dupgraph",
    "table")
  /** Layer-specific counts, with their units. */
  val LayerCounts: Seq[(String, String)] = Seq(
    "text.instances" -> "count", "pipeline.triples.rows" -> "count",
    "pipeline.mi.rows" -> "count", "pipeline.similarity.pairs" -> "count",
    "pipeline.sink.bytes" -> "bytes", "dedup.candidates" -> "count",
    "dedup.pairs" -> "count", "dedup.useful_ratio" -> "ratio",
    "dupgraph.components" -> "count", "table.files_written" -> "count",
    "table.bytes_written" -> "bytes")

  def nproc: Int = Runtime.getRuntime.availableProcessors

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One execution plus its checks. Never throws: a thrown execution or
    * a failed check is tallied.
    */
  def attempt(w: Workload, ctx: Ctx, input: String, scratch: String,
      tally: Tally): (Double, Option[w.Answer]) = {
    tally.attempted += 1
    Files.createDirectories(Paths.get(scratch))
    val t0 = System.nanoTime()
    val answer =
      try {
        val a = w.execute(ctx, input, scratch)
        judge(w)(a, tally)
        Some(a)
      } catch {
        case NonFatal(e) =>
          tally.fail(Seq(s"${e.getClass.getName}: ${e.getMessage}"))
          None
      }
    ((System.nanoTime() - t0) / 1e9, answer)
  }

  /** Tallies a failure when `a` fails the workload's checks. */
  def judge(w: Workload)(a: w.Answer, tally: Tally): Unit = {
    val wrong = w.check(a)
    if (wrong.nonEmpty) tally.fail(wrong)
  }

  /** Drops what an execution cached and wrote. */
  def cleanup(spark: SparkSession, scratch: String): Unit = {
    spark.catalog.clearCache()
    deleteTree(scratch)
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { Files.deleteIfExists(f); () })
      finally s.close()
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
  }

  private def loadAvg: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  final case class Sample(seconds: Double, cpuS: Double, shuffleMb: Double,
      peakMemMb: Double)

  def run(o: Main.Opts): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadBefore = loadAvg
    val w = Workloads(o.workload, o.seed)
    val input = s"${o.work}/input"
    val tally = new Tally
    // set-up: JVM start, input generation, session start and the
    // warm-up executions
    val t0 = System.nanoTime()
    val boot = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val spark = session(o.work)
    val inputHash = w.generate(spark, input)
    val collector = new Collector
    spark.sparkContext.addSparkListener(collector)
    for (c <- 0 until w.warmups) {
      val scratch = s"${o.work}/warmup-$c"
      attempt(w, new TimedCtx(spark), input, scratch, tally)
      cleanup(spark, scratch)
    }
    val setup = boot + (System.nanoTime() - t0) / 1e9
    val sc = spark.sparkContext

    val samples = ArrayBuffer.empty[Sample]
    val commitMs = ArrayBuffer.empty[Double]
    var reference: Option[w.Answer] = None
    val start = System.nanoTime()
    while (samples.length < w.minSamples ||
        (System.nanoTime() - start) / 1e9 < o.seconds) {
      val group = s"exec-${samples.length}"
      val scratch = s"${o.work}/$group"
      sc.setJobGroup(group, group)
      val (secs, answer) = attempt(w, new TimedCtx(spark), input, scratch, tally)
      sc.clearJobGroup()
      cleanup(spark, scratch)
      val t = collector.group(sc, group)
      samples += Sample(secs, t.cpuNs / 1e9, t.shuffleBytes / 1e6,
        t.peakExecMem / 1e6)
      answer.foreach { a =>
        commitMs ++= w.commitMs(a)
        if (reference.isEmpty) reference = Some(a)
      }
    }
    val wall = median(samples.map(_.seconds).toSeq)

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("wall_s", wall, "s"),
        ("rows_per_s", w.inputRows / wall, "rows/s"),
        ("cpu_s", median(samples.map(_.cpuS).toSeq), "s"),
        // the least, not the median: adaptive execution re-plans one of
        // dirt_corpus's joins in some executions, depending on which stage
        // finishes first, adding a stage and about 10% of shuffle bytes;
        // the report lists every execution's figure
        ("shuffle_mb", samples.map(_.shuffleMb).min, "MB"),
        ("peak_exec_mem_mb", median(samples.map(_.peakMemMb).toSeq), "MB"),
        ("setup_s", setup, "s"))
      else traced(o, w, spark, collector, input, tally)(reference, wall,
        commitMs.toSeq)

    val loadAfter = loadAvg
    val env = Json.obj(Seq(
      "nproc" -> nproc.toString,
      "load_before" -> Json.num(loadBefore),
      "load_after" -> Json.num(loadAfter),
      "jvm" -> Json.str(s"${sys.props("java.vm.name")} ${sys.props("java.version")}"),
      "xmx_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "master" -> Json.str(sc.master),
      "shuffle_partitions" -> Json.str(spark.conf.get("spark.sql.shuffle.partitions")),
      "commit" -> Json.str(sys.env.getOrElse("GRAFTBENCH_COMMIT", "unknown")),
      "source_hash" -> Json.str(sys.env.getOrElse("GRAFTBENCH_SOURCE_HASH", "unknown"))))
    sc.removeSparkListener(collector)
    spark.stop()

    val report = Json.obj(Seq(
      "workload" -> Json.str(w.name),
      "seed" -> o.seed.toString,
      "trace" -> o.trace.toString,
      "input_rows" -> w.inputRows.toString,
      "input_hash" -> Json.str(inputHash),
      "samples" -> samples.length.toString,
      "wall_s_each" -> Json.arr(samples.map(s => Json.num(s.seconds)).toSeq),
      "cpu_s_each" -> Json.arr(samples.map(s => Json.num(s.cpuS)).toSeq),
      "shuffle_mb_each" -> Json.arr(samples.map(s => Json.num(s.shuffleMb)).toSeq),
      "setup_s" -> Json.num(setup),
      "commit_ms_p50" -> Json.num(percentile(commitMs.toSeq, 0.5)),
      "commit_ms_p90" -> Json.num(percentile(commitMs.toSeq, 0.9)),
      "fail_frac" -> Json.num(tally.failed.toDouble / tally.attempted),
      "errors" -> Json.arr(tally.errors.take(5).map(Json.str).toSeq),
      "env" -> env))
    println(Json.obj(Seq("report" -> report)))
    println(Json.obj(Seq(
      "correct" -> (tally.failed == 0).toString,
      "attempted" -> tally.attempted.toString,
      "failed" -> tally.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, unit) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
      }))))
    0
  }

  /** The traced execution: spans and job groups per layer, the per-layer
    * metrics, and the tracing overhead against the timed executions.
    */
  private def traced(o: Main.Opts, w: Workload, spark: SparkSession,
      collector: Collector, input: String, tally: Tally)(
      reference: Option[w.Answer], wall: Double,
      commitMs: Seq[Double]): Seq[(String, Double, String)] = {
    val sc = spark.sparkContext
    val tracer = new Tracer(s"${w.name}-seed${o.seed}-pid${ProcessHandle.current().pid()}")
    val ctx = new TracedCtx(spark, tracer)
    val scratch = s"${o.work}/traced"
    val failedBefore = tally.failed
    val (secs, answer) = ctx.inGroup("execution")(
      attempt(w, ctx, input, scratch, tally))
    cleanup(spark, scratch)
    if (tally.failed == failedBefore &&
        answer.zip(reference).exists { case (a, r) => !w.same(a, r) })
      tally.fail(Seq("the traced answer differs from the timed answer"))
    if (o.traceOut.nonEmpty) tracer.writeJsonl(Paths.get(o.traceOut))

    val self = tracer.selfSeconds
    val perLayer = Layers.flatMap { l =>
      val ran = tracer.names.contains(l)
      val t = collector.group(sc, l)
      def v(x: => Double): Double = if (ran) x else 0.0
      Seq(
        (s"$l.self_s", self.getOrElse(l, 0.0), "s"),
        (s"$l.jobs", t.jobs.toDouble, "count"),
        (s"$l.stages", t.stages.toDouble, "count"),
        (s"$l.tasks", t.tasks.toDouble, "count"),
        (s"$l.shuffle_mb", t.shuffleBytes / 1e6, "MB"),
        (s"$l.shuffle_records", t.shuffleRecords.toDouble, "count"),
        (s"$l.spill_mb", t.spillBytes / 1e6, "MB"),
        (s"$l.gc_s", t.gcMs / 1e3, "s"),
        (s"$l.sched_delay_s", t.schedDelayMs / 1e3, "s"),
        (s"$l.task_skew", v(t.taskSkew), "ratio"))
    }
    val counts = LayerCounts.map { case (c, unit) =>
      (c, ctx.counts.getOrElse(c, 0.0), unit)
    }
    perLayer ++ counts ++ Seq(
      ("table.commit_ms_p50", percentile(commitMs, 0.5), "ms"),
      ("table.commit_ms_p90", percentile(commitMs, 0.9), "ms"),
      // the probe is traced-only work, not tracing overhead
      ("trace.overhead_s", secs - tracer.seconds("probe") - wall, "s"))
  }
}
