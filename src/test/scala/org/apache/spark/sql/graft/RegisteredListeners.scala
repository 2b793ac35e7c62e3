package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Every listener registered on the session's context bus and listener
  * manager; both lists are `private[spark]`/`private[sql]`.
  */
object RegisteredListeners {
  def apply(spark: SparkSession): Seq[AnyRef] =
    spark.sparkContext.listenerBus.listeners.asScala.toSeq ++
      spark.listenerManager.listListeners().toSeq
}
