package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Task-level counters summed per Spark job group.
  *
  * The benchmark sets a job group around each call it measures (one per
  * timed execution, one per layer in the traced run); every job started
  * under that group, and every stage and task of those jobs, is
  * attributed to it. Jobs started without a group land in "".
  */
final class Collector extends SparkListener {

  final class Totals {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var cpuNs = 0L
    var shuffleBytes = 0L
    var shuffleRecords = 0L
    var spillBytes = 0L
    var gcMs = 0L
    var schedDelayMs = 0L
    var peakExecMem = 0L
    // per stage: the durations of its tasks, for the skew figure
    val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

    /** Max over median task duration, on the stage with the most summed
      * task time (tiny stages would make the ratio pure noise); 1.0 when
      * the group ran no task.
      */
    def taskSkew: Double =
      if (taskMs.isEmpty) 1.0
      else {
        val ts = taskMs.values.maxBy(_.sum).sorted
        val mid = ts.length / 2
        val median =
          if (ts.length % 2 == 1) ts(mid).toDouble
          else (ts(mid - 1) + ts(mid)) / 2.0
        ts.last / math.max(median, 1.0)
      }
  }

  private val byGroup = mutable.Map.empty[String, Totals]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageSubmitted = mutable.Map.empty[Int, Long]

  private def totals(group: String): Totals =
    byGroup.getOrElseUpdate(group, new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Collector.JobGroupKey)))
      .getOrElse("")
    val t = totals(group)
    t.jobs += 1
    e.stageInfos.foreach(s => stageGroup.getOrElseUpdate(s.stageId, group))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      e.stageInfo.submissionTime.foreach(stageSubmitted(e.stageInfo.stageId) = _)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val t = totals(stageGroup.getOrElse(e.stageInfo.stageId, ""))
      t.stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = totals(stageGroup.getOrElse(e.stageId, ""))
    t.tasks += 1
    val info = e.taskInfo
    // time the task waited for a slot after its stage was submitted
    stageSubmitted.get(e.stageId).foreach { s =>
      t.schedDelayMs += math.max(0L, info.launchTime - s)
    }
    t.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
      info.duration
    val m = e.taskMetrics
    if (m != null) {
      t.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
      t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      t.spillBytes += m.diskBytesSpilled
      t.gcMs += m.jvmGCTime
      t.peakExecMem = math.max(t.peakExecMem, m.peakExecutionMemory)
    }
  }

  /** The totals of `group` once every event posted so far is delivered. */
  def group(sc: SparkContext, group: String): Totals = {
    org.apache.spark.graftbench.ListenerBusDrain(sc)
    synchronized(byGroup.getOrElse(group, new Totals))
  }
}

object Collector {
  /** The local property `SparkContext.setJobGroup` sets. */
  val JobGroupKey = "spark.jobGroup.id"
}
