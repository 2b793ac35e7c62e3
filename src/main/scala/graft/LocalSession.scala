package graft

import org.apache.spark.sql.SparkSession

/** The one session constructor every main uses: `local[cpus]` with as
  * many shuffle partitions, UTC session time, no UI, WARN logging.
  */
object LocalSession {

  def apply(cpus: Int, extraConf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = extraConf
      .foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_CPUS` cores, 4 when unset. */
  def fromEnv(extraConf: (String, String)*): SparkSession =
    apply(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, extraConf: _*)
}
