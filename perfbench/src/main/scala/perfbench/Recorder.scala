package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Task metrics summed over the jobs of one Spark job group. */
final class GroupStats {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  var recordsWritten = 0L
  var bytesWritten = 0L
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def shuffleMb: Double = (shuffleReadBytes + shuffleWriteBytes) / 1e6

  /** Largest max/median task run time over the group's stages (1 = even). */
  def skew: Double = {
    val ratios = stageTaskMs.values.filter(_.size > 1).map { ts =>
      val sorted = ts.sorted
      sorted.last.toDouble / math.max(1L, sorted(sorted.size / 2))
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  def add(o: GroupStats): Unit = {
    tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; recordsRead += o.recordsRead
    recordsWritten += o.recordsWritten; bytesWritten += o.bytesWritten
    o.stageTaskMs.foreach { case (s, ts) =>
      stageTaskMs.getOrElseUpdate(s, mutable.ArrayBuffer.empty) ++= ts }
  }
}

/** One SparkListener that sums task metrics per job group. */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val groups = mutable.Map.empty[String, GroupStats]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(g => e.stageIds.foreach(stageGroup(_) = g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageGroup.get(e.stageId).filter(_ => m != null).foreach { g =>
      val st = groups.getOrElseUpdate(g, new GroupStats)
      st.tasks += 1
      st.runMs += m.executorRunTime
      st.cpuNs += m.executorCpuTime
      st.gcMs += m.jvmGCTime
      st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      st.recordsRead += m.inputMetrics.recordsRead
      st.recordsWritten += m.outputMetrics.recordsWritten
      st.bytesWritten += m.outputMetrics.bytesWritten
      st.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  def stats(group: String): GroupStats = synchronized(groups.getOrElse(group, new GroupStats))
}

final case class Span(id: Int, name: String, parent: Int, unit: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

final case class Op(name: String, seconds: Double, ok: Boolean)

/**
 * Client-side timing for one run: units (one closed-loop request each),
 * the timed operations inside them, and, when tracing, a span around each
 * of those calls. A span is a Spark job group, so the listener attributes
 * every task to the innermost span that launched it.
 */
final class Recorder(spark: SparkSession, traceOn: Boolean) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  val ops = mutable.ArrayBuffer.empty[Op]
  val unitSeconds = mutable.ArrayBuffer.empty[Double]
  /** Process CPU seconds (all threads) spent during each unit. */
  val unitCpuSeconds = mutable.ArrayBuffer.empty[Double]
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var unitIdx = -1
  private var tracing = traceOn
  val listener: GroupListener =
    if (traceOn) { val l = new GroupListener; sc.addSparkListener(l); l } else null

  def units: Int = unitSeconds.size

  /** Run without spans, e.g. the untraced reference unit of a traced run. */
  def untraced[A](body: => A): A = {
    val was = tracing
    tracing = false
    if (listener != null) { drain(); sc.removeSparkListener(listener) }
    try body finally {
      tracing = was
      if (listener != null) sc.addSparkListener(listener)
    }
  }

  /** Run a warm-up: no spans, and the ops it times are forgotten. */
  def unrecorded[A](body: => A): A = {
    val n = ops.size
    try untraced(body) finally ops.remove(n, ops.size - n)
  }

  def span[A](name: String)(body: => A): A =
    if (!tracing) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, parent, unitIdx, t0, System.nanoTime())
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"span-$p", "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** One closed-loop unit: timed as a whole and traced as span "unit". */
  def unit[A](body: => A): A = {
    unitIdx += 1
    val (t0, cpu0) = (System.nanoTime(), Stats.processCpuSeconds())
    try span("unit")(body)
    finally {
      unitSeconds += (System.nanoTime() - t0) / 1e9
      unitCpuSeconds += Stats.processCpuSeconds() - cpu0
    }
  }

  /** A timed call into the program; a failure is recorded, not thrown. */
  def op(name: String)(body: => Unit): Boolean = {
    val t0 = System.nanoTime()
    val ok =
      try { span(name)(body); true }
      catch {
        case e: Exception =>
          System.err.println(s"[op] $name failed: $e")
          false
      }
    ops += Op(name, (System.nanoTime() - t0) / 1e9, ok)
    ok
  }

  def drain(): Unit = if (listener != null) org.apache.spark.BenchBus.drain(sc)

  private def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  /** Per traced unit: the spans named `name`, their durations summed. */
  def spanSeconds(name: String): Seq[Double] =
    spans.filter(_.name == name).groupBy(_.unit).toSeq.sortBy(_._1).map(_._2.map(_.seconds).sum)

  /** Per traced unit: task metrics of the spans named `name` (own jobs). */
  def spanStats(name: String): Seq[GroupStats] = {
    drain()
    spans.filter(_.name == name).groupBy(_.unit).toSeq.sortBy(_._1).map { case (_, ss) =>
      val g = new GroupStats
      ss.foreach(s => g.add(listener.stats(s"span-${s.id}")))
      g
    }
  }

  /** Per traced unit: the unit's wall that no layer span covers. */
  def unaccountedSeconds: Seq[Double] = spans.filter(_.name == "unit").map(selfSeconds).toSeq

  /** Every span with its own jobs' task metrics, for the trace file. */
  def spansJson: String = {
    drain()
    spans.map { s =>
      val g = if (listener == null) new GroupStats else listener.stats(s"span-${s.id}")
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"unit":${s.unit},""" +
        s""""seconds":${s.seconds},"self_seconds":${selfSeconds(s)},"tasks":${g.tasks},""" +
        s""""run_s":${g.runMs / 1e3},"cpu_s":${g.cpuNs / 1e9},"gc_s":${g.gcMs / 1e3},""" +
        s""""shuffle_read_mb":${g.shuffleReadBytes / 1e6},"shuffle_write_mb":${g.shuffleWriteBytes / 1e6},""" +
        s""""spill_mb":${g.spillBytes / 1e6},"records_read":${g.recordsRead},""" +
        s""""records_written":${g.recordsWritten},"mb_written":${g.bytesWritten / 1e6},"skew":${g.skew}}"""
    }.mkString("[", ",\n", "]")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Highest whole percentile with at least ten samples above it, if any. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val n = xs.size
    val pct = math.floor(100.0 * (n - 10) / n).toInt
    if (n < 20 || pct < 50) None
    else {
      val s = xs.sorted
      Some(pct -> s(math.ceil(pct / 100.0 * n).toInt - 1))
    }
  }

  def loadAvg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ")(0).toDouble finally src.close()
    } catch { case _: Exception => -1.0 }

  /** This JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)
    finally src.close()
  }

  def processCpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
