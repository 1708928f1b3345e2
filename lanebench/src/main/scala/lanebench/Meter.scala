package lanebench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Engine-wide counters from a SparkListener. Only jobs submitted with
  * the [[EngineMeter.Marker]] local property set count, so the measured
  * phase is told apart from set-up however late the listener bus
  * delivers.
  */
final class EngineMeter extends SparkListener {
  private val measuredStages = ConcurrentHashMap.newKeySet[Int]()
  private val lock = new Object
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, shuffleWrite, spill = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (e.properties != null && e.properties.getProperty(EngineMeter.Marker) == "1") {
      e.stageIds.foreach(id => measuredStages.add(id))
      lock.synchronized { jobs += 1 }
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    if (measuredStages.contains(e.stageInfo.stageId)) lock.synchronized { stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (measuredStages.contains(e.stageId)) {
    val m = e.taskMetrics
    lock.synchronized {
      tasks += 1
      if (m != null) {
        cpuNs += m.executorCpuTime
        runMs += m.executorRunTime
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def snapshot(wallS: Double, slots: Int, gcS: Double): Map[String, Double] =
    lock.synchronized {
      Map(
        "spark.jobs" -> jobs.toDouble,
        "spark.stages" -> stages.toDouble,
        "spark.tasks" -> tasks.toDouble,
        "spark.task_cpu_s" -> cpuNs / 1e9,
        "spark.busy_ratio" -> (if (wallS > 0) runMs / 1e3 / (wallS * slots) else 0.0),
        "spark.gc_s" -> gcS,
        "spark.shuffle_write_mb" -> shuffleWrite / 1048576.0,
        "spark.spill_mb" -> spill / 1048576.0)
    }
}

object EngineMeter {
  val Marker = "lanebench.measured"
}

/** Every micro-batch progress report of the streaming queries. */
final class ProgressLog extends StreamingQueryListener {
  val events = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(e.progress)
  def all: Seq[StreamingQueryProgress] = events.asScala.toSeq
}

/** Machine-speed probes: a fixed single-thread loop, CPU steal from
  * /proc/stat, JVM GC time and peak resident memory.
  */
object Env {
  private def loop(): Long = {
    var x = 88172645463325252L
    var acc = 0L
    var i = 0
    while (i < 40000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 1023
      i += 1
    }
    acc
  }

  /** Median of three timings of the fixed loop, in ms. */
  def canaryMs(): Double = {
    val ts = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      if (loop() == 42L) println("")
      (System.nanoTime() - t0) / 1e6
    }.sorted
    ts(1)
  }

  /** (steal, total) jiffies of the aggregate cpu line. */
  def cpuJiffies(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Exception => (0L, 0L) }
    finally src.close()
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    catch { case _: Exception => 0.0 }
    finally src.close()
  }
}
