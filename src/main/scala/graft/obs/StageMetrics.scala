package graft.obs

import java.util.Locale
import org.apache.spark.SparkContext
import org.apache.spark.graftbridge.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.collection.mutable

/** Task metrics summed over the jobs of one Spark job group. */
final case class GroupStats(
    jobs: Long, tasks: Long, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    recordsRead: Long, recordsWritten: Long,
    /** Largest max/median task run time over the group's stages (1 = even). */
    skew: Double) {
  def runS: Double = runMs / 1e3
  def cpuS: Double = cpuNs / 1e9
  def gcS: Double = gcMs / 1e3

  /** The fields of a JSON object (no braces); numbers use `Locale.ROOT`. */
  def jsonFields: String =
    ("\"jobs\":%d,\"tasks\":%d,\"run_s\":%.3f,\"cpu_s\":%.3f,\"gc_s\":%.3f," +
      "\"shuffle_read_mb\":%.3f,\"shuffle_write_mb\":%.3f,\"spill_mb\":%.3f," +
      "\"records_read\":%d,\"records_written\":%d,\"skew\":%.2f").formatLocal(Locale.ROOT,
      jobs, tasks, runS, cpuS, gcS, shuffleReadBytes / 1e6, shuffleWriteBytes / 1e6,
      spillBytes / 1e6, recordsRead, recordsWritten, skew)
}

/**
 * One `SparkListener` that sums task metrics per Spark job group
 * (`SparkContext.setJobGroup`). A stage belongs to the group of the job that
 * submitted it, so concurrent or later groups never mix, and reading a group
 * first drains the asynchronous listener bus instead of polling for quiet.
 * Jobs without a group are not counted.
 */
final class StageMetrics private (sc: SparkContext) extends SparkListener {
  private final class Acc {
    var jobs, tasks, runMs, cpuNs, gcMs = 0L
    var shuffleReadBytes, shuffleWriteBytes, spillBytes, recordsRead, recordsWritten = 0L
    val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

    def snapshot: GroupStats = {
      val ratios = stageTaskMs.values.filter(_.size > 1).map { ts =>
        val sorted = ts.sorted
        sorted.last.toDouble / math.max(1L, sorted(sorted.size / 2))
      }
      GroupStats(jobs, tasks, runMs, cpuNs, gcMs, shuffleReadBytes, shuffleWriteBytes,
        spillBytes, recordsRead, recordsWritten, if (ratios.isEmpty) 1.0 else ratios.max)
    }
  }

  private val stageGroup = mutable.Map.empty[Int, String]
  private val groups = mutable.Map.empty[String, Acc]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        groups.getOrElseUpdate(g, new Acc).jobs += 1
        e.stageIds.foreach(stageGroup(_) = g)
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageGroup.get(e.stageId).filter(_ => m != null).foreach { g =>
      val a = groups.getOrElseUpdate(g, new Acc)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.recordsRead += m.inputMetrics.recordsRead
      a.recordsWritten += m.outputMetrics.recordsWritten
      a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  /** Runs `body` with its Spark jobs in job group `group`. */
  def inGroup[A](group: String)(body: => A): A = {
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  /** The group's totals, after every event posted so far has arrived. */
  def apply(group: String): GroupStats = {
    ListenerBusBridge.waitUntilEmpty(sc)
    synchronized(groups.getOrElse(group, new Acc).snapshot)
  }

  /** Stops listening; totals read so far stay valid. */
  def remove(): Unit = sc.removeSparkListener(this)
}

object StageMetrics {
  /** A new listener, registered on `sc`. */
  def install(sc: SparkContext): StageMetrics = {
    val m = new StageMetrics(sc)
    sc.addSparkListener(m)
    m
  }
}
