package graft.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The round-18 scan-parallelism floor (Spread.cpuBound, applied at the
  * CPU-bound operator call sites): a single-file fixture scan must fan
  * out to the cluster's parallelism before per-row-expensive stages,
  * WITHOUT losing filter pushdown or column pruning at the parquet
  * scan, and must be a structural no-op on an input that already has
  * enough partitions.
  */
class SpreadSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("spread-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  private def docs = Spread.cpuBound(
    spark.read.parquet(s"$sf/documents.parquet"))

  test("cpuBound floors a 1-partition scan to defaultParallelism") {
    assume(new java.io.File(sf).exists(), "sf0.001 fixture not present")
    assert(docs.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism,
      "single-file scan must be floored to the cluster's parallelism")
  }

  test("cpuBound is a no-op when the input already has enough partitions") {
    import spark.implicits._
    val wide = (0 until 100).toDF("i").repartition(16)
    // 16 >= defaultParallelism(4): the SAME frame comes back, no
    // second exchange appended
    assert(Spread.cpuBound(wide) eq wide)
  }

  test("filter pushdown and column pruning survive the spread") {
    assume(new java.io.File(sf).exists(), "sf0.001 fixture not present")
    val plan = docs
      .filter(col("doc_id") === 7L)
      .select("doc_id", "lang")
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,7)]"),
      s"filter did not reach the scan:\n$plan")
    val readSchema = plan.linesIterator
      .find(_.trim.startsWith("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("lang") &&
      !readSchema.contains("text"),
      s"column pruning lost through the spread: $readSchema")
  }

  // cpuBound declines to probe such plans: it spreads them
  // unconditionally, and building the spread frame runs no job
  test("cpuBound refuses exchange-bearing plans instead of probing them") {
    val a = spark.range(64).toDF("i")
    val inputs = Seq(
      "join" -> a.join(a.withColumnRenamed("i", "j"), col("i") === col("j")),
      "aggregate" -> a.groupBy("i").count(),
      "distinct" -> a.distinct(),
      "limit" -> a.limit(40))
    val want = math.max(spark.sparkContext.defaultParallelism,
      spark.sessionState.conf.numShufflePartitions)
    val ledger = new graft.obs.Ledger(spark)
    inputs.foreach { case (kind, in) =>
      var out: org.apache.spark.sql.DataFrame = null
      val built = ledger.region(kind) { out = Spread.cpuBound(in) }
      assert(built.jobs == 0, s"$kind: building the frame ran ${built.jobs} jobs")
      assert(out.rdd.getNumPartitions == want, kind)
      assert(out.collect().map(_.toString).sorted.toSeq ==
        in.collect().map(_.toString).sorted.toSeq, kind)
    }
  }

  test("cpuBoundPost spreads to max(defaultParallelism, shuffle.partitions)") {
    import spark.implicits._
    val a = (0 until 64).toDF("i")
    val joined = a.join(a.withColumnRenamed("i", "j"), col("i") === col("j"))
    val out = Spread.cpuBoundPost(joined)
    val want = math.max(spark.sparkContext.defaultParallelism,
      spark.sessionState.conf.numShufflePartitions)
    assert(out.rdd.getNumPartitions == want)
    assert(out.collect().map(_.getInt(0)).sorted.toSeq == (0 until 64))
  }

  test("spread rows are the scanned rows — same result set") {
    assume(new java.io.File(sf).exists(), "sf0.001 fixture not present")
    val viaSpread = docs
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val raw = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(viaSpread == raw)
  }
}
