package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** The listener-bus internals [[graft.obs.Ledger]] needs, which Spark
  * keeps `private[spark]`: the job-group property key and draining the
  * asynchronous bus. Lives in this package for the reason
  * `GraftTableSource` does.
  */
object ListenerAccess {

  /** The local property a job group is stored under. */
  val JobGroupKey: String = SparkContext.SPARK_JOB_GROUP_ID

  /** Blocks until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
