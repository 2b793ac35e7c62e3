package graft.queries

import graft.util.CacheRelease
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, count_if, lit, max}

/** One driver-checkable query: a Spark plan plus (when the semantics are
  * SQL-expressible) the equivalent DuckDB oracle SQL over the same parquet
  * tables. Column names/aliases must match between the two — the driver's
  * compare sorts columns by name before hashing values.
  *
  * Queries without an oracle (hash-seeded ops like MinHash/SimHash/SRP,
  * or the DIRT pipeline whose input is a biarc corpus rather than the
  * fixture tables) get the driver's weaker rows-only check.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** What one [[Q.gated]] query body holds and checks. */
final class Gate private[queries] {
  private[queries] var held = Vector.empty[Dataset[_]]

  /** `df`, persisted so the checks and the returned frame read it once. */
  def hold(df: DataFrame): DataFrame = {
    held :+= df.persist()
    df
  }

  /** A query's checks as ONE action: the named `measures` aggregate
    * `over` in one `agg`, and each named check is a boolean over the
    * measure names. A false or null check throws an
    * [[IllegalArgumentException]] naming it and every measured value.
    */
  def check(over: DataFrame)(measures: (String, Column)*)(
      checks: (String, Column)*): Unit = {
    val aggs = measures.map { case (n, c) => c.as(n) }
    val row = over.agg(aggs.head, aggs.tail: _*)
      .select(measures.map(m => col(m._1)) ++ checks.map(_._2): _*)
      .collect().head
    val failed = checks.indices.filterNot { i =>
      val at = measures.size + i
      !row.isNullAt(at) && row.getBoolean(at)
    }
    val values = measures.indices.map(i => s"${measures(i)._1}=${row.get(i)}")
    require(failed.isEmpty, s"check failed: " +
      failed.map(checks(_)._1).mkString("; ") + values.mkString(" (", ", ", ")"))
  }

  /** The one-check case: no row of `over` is `bad`. */
  def none(over: DataFrame, name: String)(bad: Column): Unit =
    check(over)("violations" -> count_if(bad))(name -> (col("violations") === 0))
}

object Q {
  def checked(name: String, oracle: String)(
      run: (SparkSession, String) => DataFrame): Q =
    Q(name, run, Some(oracle))

  def rowsOnly(name: String)(run: (SparkSession, String) => DataFrame): Q =
    Q(name, run, None)

  /** A checked query whose body holds and checks through a [[Gate]],
    * the one lifecycle of a query's cached frames and checks. When the
    * body throws, a failed check included, the held frames are freed
    * before the exception leaves; otherwise they are freed after the
    * returned frame's first action. Return a frame built over the held
    * ones, not a held frame itself: the check's own action reads the
    * held plan and must not count as that first action.
    */
  def gated(name: String, oracle: String)(
      run: (SparkSession, String, Gate) => DataFrame): Q =
    checked(name, oracle) { (s, d) =>
      val g = new Gate
      val result =
        try run(s, d, g)
        catch { case e: Throwable => CacheRelease.release(g.held: _*); throw e }
      if (g.held.isEmpty) result else CacheRelease.afterFirstAction(result, g.held)
    }

  /** One row per distinct `keys` of `reference`, with `hit`: does
    * `result` hold the same keys. One shuffle, whatever the duplicates.
    */
  def against(reference: DataFrame, result: DataFrame, keys: String*): DataFrame = {
    def tagged(df: DataFrame, ref: Boolean) =
      df.select(keys.map(col) :+ lit(ref).as("ref") :+ lit(!ref).as("hit"): _*)
    tagged(reference, ref = true).unionByName(tagged(result, ref = false))
      .groupBy(keys.map(col): _*).agg(max("ref").as("ref"), max("hit").as("hit"))
      .filter(col("ref")).drop("ref")
  }
}
