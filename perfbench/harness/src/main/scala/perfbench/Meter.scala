package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** What one timed interval cost. `steal` is the share of the guest's
  * busy CPU time that the hypervisor took for other tenants while the
  * interval ran; the JVM figures are this process's CPU, JIT-compile
  * and GC seconds in the interval. */
final case class Cost(seconds: Double, steal: Double, cpuS: Double, jitS: Double, gcS: Double) {
  def json: Map[String, Any] =
    Map("s" -> seconds, "steal" -> steal, "cpu_s" -> cpuS, "jit_s" -> jitS, "gc_s" -> gcS)
}

object Meter {
  final case class Mark(busy: Long, stolen: Long, cpu: Double, jit: Double, gc: Double)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** (busy, stolen) ticks summed over the guest's CPUs, from /proc/stat. */
  private def ticks(): (Long, Long) = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val xs = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      finally src.close()
    (xs(0) + xs(1) + xs(2) + xs(5) + xs(6), xs(7))
  } catch { case _: Exception => (0L, 0L) }

  def mark(): Mark = {
    val (busy, stolen) = ticks()
    Mark(busy, stolen, os.getProcessCpuTime / 1e9,
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3)
  }

  def since(m: Mark, seconds: Double): Cost = {
    val now = mark()
    val busy = now.busy - m.busy
    val stolen = now.stolen - m.stolen
    Cost(seconds, if (busy + stolen > 0) stolen.toDouble / (busy + stolen) else 0.0,
      now.cpu - m.cpu, now.jit - m.jit, now.gc - m.gc)
  }

  /** Run `f` as span `name` of `spans`; returns (result, cost). */
  def call[T](spans: Spans, name: String)(f: => T): (T, Cost) = {
    val m = mark()
    val (out, dt) = spans.call(name)(f)
    (out, since(m, dt))
  }
}
