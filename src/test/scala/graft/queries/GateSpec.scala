package graft.queries

import graft.obs.Ledger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Q.gated]]: a query's checks run as one action over the held frame,
  * a failing check names itself and its measured values, and no held
  * frame stays persistent after the returned frame's first action or
  * after a failed check.
  */
class GateSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("gate-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def persistent: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** RDDs registered since `before`, once none remain or 10 s pass: the
    * release after a first action runs on the async listener bus.
    */
  private def residue(before: Set[Int]): Set[Int] = {
    val deadline = System.nanoTime() + 10e9.toLong
    def now = persistent -- before
    while (now.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    now
  }

  /** 0..99 with `even` marking the even ids, gated on the even count. */
  private def gated(minEven: Long): DataFrame =
    Q.gated("gated", "")({ (s, _, g) =>
      val ids = g.hold(s.range(100).toDF("id")
        .withColumn("even", col("id") % 2 === 0))
      g.check(ids)("rows" -> count(lit(1)), "even" -> count_if(col("even")))(
        "100 rows" -> (col("rows") === 100),
        s"at least $minEven even ids" -> (col("even") >= minEven))
      ids.filter(col("even")).select("id")
    }).run(spark, "")

  test("passing checks run as one action and return the frame, freed after its first action") {
    val before = persistent
    var out: DataFrame = null
    val region = new Ledger(spark).region("gate") { out = gated(minEven = 50) }
    assert(region.actions.size == 1, "the checks ran as more than one action")
    assert((persistent -- before).size == 1, "the gate did not hold its frame")
    assert(out.count() == 50L)
    assert(residue(before).isEmpty, "the held frame survived the first action")
    assert(out.count() == 50L, "a second action returned different rows")
  }

  test("a failing check names itself and its values, and frees what it held") {
    val before = persistent
    val e = intercept[IllegalArgumentException](gated(minEven = 51))
    assert(e.getMessage.contains("at least 51 even ids"))
    assert(!e.getMessage.contains("100 rows"), "a passing check was reported")
    assert(e.getMessage.contains("rows=100") && e.getMessage.contains("even=50"))
    assert(residue(before).isEmpty, "a failed check left its frame persistent")
  }

  test("against marks each reference key found in the result") {
    val ref = spark.range(5).toDF("k")
    val got = spark.range(3, 9).union(spark.range(3, 4)).toDF("k")
    val hits = Q.against(ref, got, "k").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(hits == Map(0L -> false, 1L -> false, 2L -> false, 3L -> true, 4L -> true))
  }
}
