package graft.util

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.ref.WeakReference
import java.util.concurrent.atomic.AtomicBoolean

/** The one release idiom for materialized intermediates. The rule:
  *   - an operator that returns a LAZY frame holds only `persist`ed
  *     intermediates and hands them to [[afterFirstAction]]: the
  *     caller's first action reads the cache, a later one recomputes
  *     from lineage (a freed checkpoint could not be recomputed);
  *     declared queries hold and check through `graft.queries.Q.gated`,
  *     which does this for them and frees on a failed check;
  *   - an EAGER function frees what it materialized with [[release]] in
  *     a `finally`, on success and on failure;
  *   - `localCheckpoint` stays only where lineage truncation is the
  *     point: iterative operators truncate through [[Rounds]], which
  *     frees each round once a later one is filled and every round on
  *     failure (the final round behind a returned frame is the one
  *     leftover); the merge changelog is pinned through `Rounds.pin`
  *     so a non-deterministic plan is evaluated once.
  *
  * Several branches of ONE returned plan consume the intermediates, so
  * the operator cannot release them before returning. [[afterFirstAction]]
  * registers a one-shot [[QueryExecutionListener]] that releases them as
  * soon as ANY action whose analyzed plan contains the returned plan
  * completes (success or failure), then unregisters itself.
  *
  * If the caller never runs an action, the listener would otherwise
  * stay registered for the session's lifetime, paying a full
  * `sameResult` tree comparison on every subsequent query, and keep
  * whatever the operator already materialized: usually nothing (persist
  * is lazy), but `Dedup.jaccardPairs` fills its token and df tables at
  * call time to collect its routing table. The target plan is therefore
  * held only WEAKLY: once the caller drops the un-actioned frame and it
  * is collected, no future action can match anyway, so the next query
  * event unregisters the listener and releases the cache entries.
  */
object CacheRelease {

  /** Frees each frame's materialized blocks now. A frame whose own
    * analyzed plan is a `LogicalRDD` is a checkpoint: its blocks live on
    * that RDD (`Dataset.unpersist` would be a no-op), so the RDD is
    * unpersisted. Any other frame drops its cache entry. Only the root
    * is inspected — a persisted frame built over a caller's checkpoint
    * leaves that checkpoint readable.
    */
  def release(ds: Dataset[_]*): Unit = ds.foreach { d =>
    d.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => d.unpersist(blocking = false)
    }
  }

  /** Returns `result` unchanged, with `cached` scheduled for [[release]]
    * after the first completed action that consumes `result`'s plan.
    */
  def afterFirstAction(result: DataFrame, cached: Seq[Dataset[_]]): DataFrame = {
    val spark = result.sparkSession
    // weak: the caller's DataFrame keeps the analyzed plan alive; the
    // listener must not (see class doc — un-actioned frames would pin
    // the listener, and its per-query tree comparison, forever)
    val targetRef = new WeakReference(result.queryExecution.analyzed)
    val done = new AtomicBoolean(false)
    val listener: QueryExecutionListener = new QueryExecutionListener {
      private def releaseOnce(): Unit =
        if (done.compareAndSet(false, true)) {
          release(cached: _*)
          spark.listenerManager.unregister(this)
        }
      private def maybeRelease(qe: QueryExecution): Unit = {
        targetRef.get match {
          case null => releaseOnce() // frame collected: nobody can match now
          case target =>
            // listener-bus exceptions would poison unrelated listeners;
            // any failure here just means "keep the cache" (the
            // pre-listener behavior), never a crashed query
            val hit =
              try qe.analyzed.exists(_.sameResult(target))
              catch { case scala.util.control.NonFatal(_) => false }
            if (hit) releaseOnce()
        }
      }
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = maybeRelease(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = maybeRelease(qe)
    }
    spark.listenerManager.register(listener)
    result
  }
}
