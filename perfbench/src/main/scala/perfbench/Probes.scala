package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark-side counters of one window of work (a query, a backfill rep),
  * read from Spark's public listener events.
  */
final case class Window(wallS: Double, jobs: Int, buildJobs: Int, stages: Int, tasks: Long,
                        singleTaskStages: Int, driverGapS: Double, taskCpuS: Double,
                        shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long,
                        taskGcMs: Long, peakTaskMemBytes: Long, outputBytes: Long)

/** Collects job, stage and task events between `open` and `close`. Events
  * arrive asynchronously, so `close` first waits for the listener bus.
  */
final class SparkProbe(spark: SparkSession) extends SparkListener {
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private var stages, singleStages = 0
  private var tasks = 0L
  private var cpuNs, shw, shr, spill, gcMs, peakMem, outBytes = 0L
  private var t0Ms = 0L
  private var t0Ns = 0L

  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobStart(e.jobId) = e.time }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    if (e.stageInfo.numTasks == 1) singleStages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    tasks += 1
    if (m != null) {
      cpuNs += m.executorCpuTime
      shw += m.shuffleWriteMetrics.bytesWritten
      shr += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      gcMs += m.jvmGCTime
      peakMem = math.max(peakMem, m.peakExecutionMemory)
      outBytes += m.outputMetrics.bytesWritten
    }
  }

  def open(): Unit = {
    org.apache.spark.perfbenchbridge.Bus.drain(spark.sparkContext)
    synchronized {
      jobStart.clear(); jobSpans.clear()
      stages = 0; singleStages = 0; tasks = 0
      cpuNs = 0; shw = 0; shr = 0; spill = 0; gcMs = 0; peakMem = 0; outBytes = 0
    }
    t0Ms = System.currentTimeMillis(); t0Ns = System.nanoTime()
  }

  /** Close the window; `buildEndMs` splits off the jobs that started before
    * it (the eager jobs of a query's build).
    */
  def close(buildEndMs: Long = Long.MinValue): Window = {
    val wallS = (System.nanoTime() - t0Ns) / 1e9
    val t1Ms = t0Ms + (wallS * 1000).toLong
    org.apache.spark.perfbenchbridge.Bus.drain(spark.sparkContext)
    synchronized {
      // time inside the window during which no job was running
      val merged = jobSpans.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
        case ((s, e) :: rest, (s2, e2)) if s2 <= e => (s, math.max(e, e2)) :: rest
        case (acc, span) => span :: acc
      }
      val busyMs = merged.map { case (s, e) => math.max(0L, math.min(e, t1Ms) - math.max(s, t0Ms)) }.sum
      Window(wallS, jobSpans.size, jobSpans.count(_._1 < buildEndMs), stages, tasks, singleStages,
        math.max(0.0, wallS - busyMs / 1000.0), cpuNs / 1e9, shw, shr, spill, gcMs, peakMem, outBytes)
    }
  }
}

/** Whole-JVM counters: GC, Janino compilations, JIT, peak RSS. */
object Jvm {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Janino compilations and their summed milliseconds (the codegen
    * histogram keeps a sample, so the sum is count x sample mean).
    */
  def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean)
  }

  /** Peak resident set size of this process in MB (`VmHWM`). */
  def peakRssMb(): Double = {
    val line = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
      .asScala.find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def metrics(): Map[String, Double] = {
    val (n, ms) = codegen()
    Map("jvm.gc_ms" -> gcMs().toDouble, "jvm.codegen_compiles" -> n.toDouble,
      "jvm.codegen_compile_ms" -> ms, "jvm.jit_compile_ms" -> jitMs().toDouble)
  }
}
