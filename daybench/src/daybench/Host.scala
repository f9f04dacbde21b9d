package daybench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Process and host readings for the per-run environment and contention
  * record: this process's CPU, the machine's busy CPU from /proc/stat
  * (their difference is CPU other processes burned), GC and JIT time.
  */
object Host {

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuS(): Double = os.getProcessCpuTime / 1e9

  def gcS(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum / 1e3

  def jitS(): Double =
    Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)

  def jvmStartMs(): Long = ManagementFactory.getRuntimeMXBean.getStartTime

  def jvmFlags(): Seq[String] =
    ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
      .filterNot(_.startsWith("--add-opens"))

  /** Heap in use after full collections, MiB. Spark's ContextCleaner
    * frees broadcast and shuffle blocks only once a collection has
    * cleared their references, so collect until the reading settles.
    */
  def heapMb(): Double = {
    def used() = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
        (1024.0 * 1024.0)
    }
    Iterator.continually(used()).take(4).min
  }

  def maxHeapMb(): Double = Runtime.getRuntime.maxMemory / (1024.0 * 1024.0)

  def loadavg1(): Double =
    try {
      val s = scala.io.Source.fromFile("/proc/loadavg")
      try s.mkString.split("\\s+")(0).toDouble finally s.close()
    } catch { case _: Exception => -1.0 }

  /** Machine-wide busy CPU seconds (user+nice+system+irq+softirq+steal
    * of /proc/stat's aggregate line, at USER_HZ = 100), or -1.
    */
  def busyCpuS(): Double =
    try {
      val s = scala.io.Source.fromFile("/proc/stat")
      val f = try s.getLines().next().trim.split("\\s+") finally s.close()
      Seq(1, 2, 3, 6, 7, 8).map(i => if (i < f.length) f(i).toLong else 0L)
        .sum / 100.0
    } catch { case _: Exception => -1.0 }

  /** This process's (user, system) CPU seconds from /proc/self/stat. */
  def userSysS(): (Double, Double) =
    try {
      val s = scala.io.Source.fromFile("/proc/self/stat")
      val line = try s.mkString finally s.close()
      val f = line.substring(line.lastIndexOf(')') + 2).split(" ")
      (f(11).toLong / 100.0, f(12).toLong / 100.0)
    } catch { case _: Exception => (-1.0, -1.0) }

  /** Readings at the start of a phase; `since` turns two into deltas. */
  final case class Mark(cpu: Double, busy: Double, gc: Double, jit: Double,
      userSys: (Double, Double))

  def mark(): Mark = Mark(cpuS(), busyCpuS(), gcS(), jitS(), userSysS())

  final case class Phase(cpuS: Double, foreignCpuS: Double, gcS: Double,
      jitS: Double, sysS: Double)

  def since(m: Mark): Phase = {
    val now = mark()
    val foreign =
      if (m.busy < 0 || now.busy < 0) -1.0
      else (now.busy - m.busy) - (now.cpu - m.cpu)
    Phase(now.cpu - m.cpu, foreign, now.gc - m.gc, now.jit - m.jit,
      now.userSys._2 - m.userSys._2)
  }
}
