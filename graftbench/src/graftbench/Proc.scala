package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Process and machine counters read around operations: process CPU over
  * all JVM threads, GC and JIT time, resident memory, steal and load.
  */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean

  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = gcs.map(b => math.max(0L, b.getCollectionTime)).sum
  def jitMs: Long = jit.getTotalCompilationTime

  /** `VmHWM` / `VmRSS` from /proc/self/status, in MiB. */
  def statusMb(key: String): Double =
    scala.util.Using(scala.io.Source.fromFile("/proc/self/status")) { src =>
      src.getLines().find(_.startsWith(key + ":"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    }.getOrElse(-1.0)

  def loadAvg1m: Double =
    scala.util.Using(scala.io.Source.fromFile("/proc/loadavg")) {
      _.mkString.split(" ")(0).toDouble
    }.getOrElse(-1.0)

  /** (steal jiffies, total jiffies) from the aggregate cpu line. */
  def cpuJiffies: (Long, Long) =
    scala.util.Using(scala.io.Source.fromFile("/proc/stat")) { src =>
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    }.getOrElse((0L, 0L))
}

/** Ends the warm-up: waits until the JIT compile queue the warm-up filled
  * has drained (no compilation finished for half a second, or `maxSeconds`
  * passed), so the measured phase starts from the code the warm-up asked
  * for, however fast the machine compiled it. Returns the seconds waited.
  */
object Jit {
  def drain(maxSeconds: Double): Double = {
    val t0 = System.nanoTime()
    def waited = (System.nanoTime() - t0) / 1e9
    var last = Proc.jitMs
    var quiet = 0
    while (quiet < 5 && waited < maxSeconds) {
      Thread.sleep(100)
      val now = Proc.jitMs
      if (now == last) quiet += 1 else { quiet = 0; last = now }
    }
    waited
  }
}
