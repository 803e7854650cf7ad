package fossilbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spark runtime totals seen through a listener the benchmark registers:
  * jobs, tasks, task CPU, shuffle bytes, spill, GC, and per-stage task
  * times for skew. [[take]] returns the totals since the last take. */
final class SparkMeter(sc: SparkContext) extends SparkListener {
  import SparkMeter.Totals

  private var jobs = 0L
  private var tasks = 0L
  private var cpuNs = 0L
  private var shuffleBytes = 0L
  private var spillBytes = 0L
  private var gcMs = 0L
  private val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      gcMs += m.jvmGCTime
    }
    stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
      (e.taskInfo.finishTime - e.taskInfo.launchTime)
  }

  def take(): Totals = {
    org.apache.spark.fossilbench.ListenerBusDrain(sc)
    synchronized {
      // skew per stage with more than one task: slowest ÷ median task time
      val skews = stageTaskMs.values.filter(_.size > 1).map { ts =>
        ts.max.toDouble / math.max(1.0, Stats.median(ts.map(_.toDouble).toSeq))
      }.toSeq
      val t = Totals(jobs, tasks, cpuNs / 1e6, shuffleBytes, spillBytes, gcMs, skews)
      jobs = 0; tasks = 0; cpuNs = 0; shuffleBytes = 0; spillBytes = 0; gcMs = 0
      stageTaskMs.clear()
      t
    }
  }
}

object SparkMeter {
  final case class Totals(jobs: Long, tasks: Long, cpuMs: Double, shuffleBytes: Long,
      spillBytes: Long, gcMs: Long, stageSkews: Seq[Double])
}
