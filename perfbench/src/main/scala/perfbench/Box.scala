package perfbench

import java.lang.management.ManagementFactory
import scala.util.Try

/** What the run ran on, recorded beside the metrics so that a slow or
  * drifting box shows in the artifact.
  */
object Box {

  def loadavg: String =
    Try(scala.io.Source.fromFile("/proc/loadavg").getLines().next()
      .split(" ").take(3).mkString(" ")).getOrElse("n/a")

  /** Seconds of CPU stolen by the hypervisor, summed over all CPUs. */
  def stealSeconds: Double =
    Try {
      val cpu = scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu ")).get.trim.split("\\s+")
      cpu(8).toDouble / 100.0
    }.getOrElse(Double.NaN)

  @volatile private var sink = 0L

  /** Milliseconds of a fixed pure-JVM loop (median of three), a probe of
    * how fast this box runs right now.
    */
  def calibrationMs: Double = Stats.median((1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 50000000) {
      x = x * 6364136223846793005L + 1442695040888963407L + i
      i += 1
    }
    sink += x
    (System.nanoTime() - t0) / 1e6
  })

  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  def maxHeapMb: Long = Runtime.getRuntime.maxMemory / 1048576
}
