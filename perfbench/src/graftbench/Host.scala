package graftbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Host and JVM state recorded in every result: load average, free disk
  * under the Spark local dir, core count, stolen CPU time and the JVM's
  * heap/GC flags.
  */
object Host {

  def loadavg(): Seq[Double] =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+").take(3).map(_.toDouble).toSeq
      finally src.close()
    } catch { case _: Exception => Seq(0.0, 0.0, 0.0) }

  def freeDiskMb(dir: String): Long =
    new java.io.File(dir).getUsableSpace / (1024L * 1024L)

  def jvm(): collection.mutable.LinkedHashMap[String, Any] = {
    val rt = ManagementFactory.getRuntimeMXBean
    val flags = rt.getInputArguments.asScala.filter(a =>
      a.startsWith("-Xm") || a.startsWith("-XX:") || a.startsWith("-Xss"))
    Json.obj(
      "java_version" -> System.getProperty("java.version"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024L * 1024L),
      "heap_gc_flags" -> flags.toSeq,
      "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).toSeq)
  }

  def nproc(): Int = Runtime.getRuntime.availableProcessors()

  /** (steal, total) jiffies over all CPUs from /proc/stat: time a virtual
    * machine's CPUs were runnable but the hypervisor ran something else.
    */
  def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.sum)
      } finally src.close()
    } catch { case _: Exception => (0L, 0L) }

  /** Share of CPU time stolen by the hypervisor since `from`. */
  def stealSince(from: (Long, Long)): Double = {
    val (s, t) = cpuTicks()
    if (t > from._2) (s - from._1).toDouble / (t - from._2) else 0.0
  }

  /** CPU time of this process so far, in seconds. */
  def processCpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  /** Total GC time of this JVM so far, in seconds. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0
}

/** Highest heap occupancy measured right after a full collection. The
  * workloads call [[settle]] at fixed points where the iteration's
  * results and cached frames are still live, so the figure is the
  * retained working set at its largest, not a reading of whenever the
  * collector happened to run.
  */
final class HeapMonitor {
  private var peakBytes = 0L

  def reset(): Unit = peakBytes = 0L

  /** Force a full collection and record the heap left in use. */
  def settle(): Unit = {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    if (used > peakBytes) peakBytes = used
  }

  def peakMb: Double = peakBytes / (1024.0 * 1024.0)
}
