package graft.obs

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.graft.ListenerAccess
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Shuffle statistics of one exchange in an action's final plan. */
final case class Exchange(output: Seq[String], dataSize: Long,
    bytesWritten: Long, recordsWritten: Long)

/** The costs of one [[Ledger.region]]. Job, stage and task counters sum
  * the jobs submitted while this region was the innermost open one, so
  * a nested region's jobs count in the nested record only. `actions`
  * are the completed actions of the same span, in completion order.
  */
final case class Region(label: String, seconds: Double, jobs: Long,
    stages: Long, tasks: Long, shuffleBytesWritten: Long,
    shuffleRecordsWritten: Long, memoryBytesSpilled: Long,
    diskBytesSpilled: Long, peakExecutionMemory: Long, gcMs: Long,
    actions: Seq[QueryExecution], nested: Seq[Region]) {

  /** Per action, the exchanges of its final adaptive plan. */
  def exchanges: Seq[Seq[Exchange]] = actions.map(Ledger.exchanges)

  /** Every action of this region and the regions nested in it, nested
    * regions first.
    */
  def allActions: Seq[QueryExecution] =
    nested.flatMap(_.allActions) ++ actions
}

/** One cost ledger per session: where a labelled body's time, jobs,
  * shuffle bytes, spill and memory went, read from Spark's own
  * accounting. One [[SparkListener]] sums task metrics per job group;
  * one [[QueryExecutionListener]] keeps each completed action, whose
  * final adaptive plan carries the per-exchange statistics (the
  * shuffle-boundary statistics AQE re-plans from).
  *
  * Both listeners are registered while a region is open and removed
  * when the outermost region ends, on success and on failure. Events
  * reach them through Spark's asynchronous listener bus, so every
  * region boundary first drains the bus: a record read right after an
  * action already holds all of that action's tasks.
  */
final class Ledger(spark: SparkSession) {
  private val sc = spark.sparkContext

  private final class Counts {
    var jobs, stages, tasks, shuffleBytes, shuffleRecords, memSpill,
      diskSpill, peakExec, gcMs = 0L
  }

  private final class Costs extends SparkListener {
    private val byGroup = mutable.Map.empty[String, Counts]
    private val stageGroup = mutable.Map.empty[Int, String]

    private def group(props: java.util.Properties): Option[String] =
      Option(props).flatMap(p => Option(p.getProperty(ListenerAccess.JobGroupKey)))

    private def at(g: String): Counts = byGroup.getOrElseUpdate(g, new Counts)

    def take(g: String): Counts = synchronized {
      byGroup.remove(g).getOrElse(new Counts)
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      group(e.properties).foreach(at(_).jobs += 1)
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        group(e.properties).foreach { g =>
          stageGroup(e.stageInfo.stageId) = g
          at(g).stages += 1
        }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
        val c = at(g)
        c.tasks += 1
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        c.memSpill += m.memoryBytesSpilled
        c.diskSpill += m.diskBytesSpilled
        c.peakExec = math.max(c.peakExec, m.peakExecutionMemory)
        c.gcMs += m.jvmGCTime
      }
    }
  }

  private final class Actions extends QueryExecutionListener {
    private val pending = mutable.ArrayBuffer.empty[QueryExecution]
    def take(): Seq[QueryExecution] = synchronized {
      val out = pending.toSeq
      pending.clear()
      out
    }
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = synchronized { pending += qe; () }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private final class Open(val group: String) {
    var seconds = 0.0
    val actions = mutable.ArrayBuffer.empty[QueryExecution]
    val nested = mutable.ArrayBuffer.empty[Region]
  }

  private var open = List.empty[Open]
  private var costs: Costs = _
  private var queries: Actions = _
  private var started = 0L

  /** Drains the bus and hands the actions completed since the last
    * boundary to the innermost open region.
    */
  private def settle(): Unit = {
    ListenerAccess.drain(sc)
    val done = queries.take()
    open.headOption.foreach(_.actions ++= done)
  }

  /** Runs `body` as a region labelled `label` under its own job group
    * and returns its record; the previous job group is restored after.
    */
  def region(label: String)(body: => Unit): Region = {
    if (open.isEmpty) {
      costs = new Costs
      queries = new Actions
      sc.addSparkListener(costs)
      spark.listenerManager.register(queries)
    }
    val prevGroup = sc.getLocalProperty(ListenerAccess.JobGroupKey)
    try {
      settle()
      started += 1
      val r = new Open(s"graft.obs/$started/$label")
      open = r :: open
      sc.setLocalProperty(ListenerAccess.JobGroupKey, r.group)
      val t0 = System.nanoTime()
      try body
      finally {
        r.seconds = (System.nanoTime() - t0) / 1e9
        settle()
        open = open.tail
        sc.setLocalProperty(ListenerAccess.JobGroupKey, prevGroup)
      }
      val c = costs.take(r.group)
      val done = Region(label, r.seconds, c.jobs, c.stages, c.tasks,
        c.shuffleBytes, c.shuffleRecords, c.memSpill, c.diskSpill,
        c.peakExec, c.gcMs, r.actions.toSeq, r.nested.toSeq)
      open.headOption.foreach(_.nested += done)
      done
    } finally if (open.isEmpty) {
      sc.removeSparkListener(costs)
      spark.listenerManager.unregister(queries)
    }
  }
}

object Ledger {

  /** The exchanges of `qe`'s executed plan, descending through AQE's
    * query stages, nested adaptive plans and subqueries. Read after the
    * action, this is the final adaptive plan with its runtime metrics.
    */
  def exchanges(qe: QueryExecution): Seq[Exchange] = {
    def walk(p: SparkPlan): Seq[ShuffleExchangeLike] = {
      val here = p match {
        case q: QueryStageExec => walk(q.plan)
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: ShuffleExchangeLike => Seq(s)
        case _ => Seq.empty
      }
      here ++ p.children.flatMap(walk) ++ p.subqueries.flatMap(walk)
    }
    walk(qe.executedPlan).distinct.map { s =>
      def m(k: String): Long = s.metrics.get(k).map(_.value).getOrElse(-1L)
      Exchange(s.output.map(_.name), m("dataSize"),
        m("shuffleBytesWritten"), m("shuffleRecordsWritten"))
    }
  }
}
