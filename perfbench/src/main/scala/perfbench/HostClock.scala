package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** Host-speed clock. The host this benchmark runs on changes speed over
  * minutes, mostly without CPU steal: other machines share its cores,
  * caches and memory, and everything in a run, from the JVM's start to
  * every epoch, slows down together. A thread of this class runs two fixed pieces of
  * work, neither of them program code, every `periodMs` for the whole run
  * and records the CPU time each took: `compute`, integer arithmetic over
  * a cache-resident array, and `memory`, a chain of dependent loads
  * through an array larger than the caches. Thread CPU time leaves out
  * the time the thread waits for a core, so the samples measure how fast
  * a core runs, not how busy the benchmark keeps the cores.
  *
  * On the reference host the pipeline's times moved in proportion to the
  * product of the two kernels' times, run to run and between slow and
  * fast phases; `factor` scales a measured time to the reference speed
  * by that product.
  */
final class HostClock(periodMs: Int = 20) {
  import HostClock._

  private val bean = ManagementFactory.getThreadMXBean
  /** (wall ms at the end of the sample, compute CPU ms, memory CPU ms) */
  private val samples = new ConcurrentLinkedQueue[(Double, Double, Double)]()
  @volatile private var stopped = false
  @volatile private var sink = 0L

  private val thread = new Thread(() => {
    val buf = Array.tabulate(4096)(i => i * 2654435761L)
    val next = ring(1 << 22, 7L)
    var at = 0
    while (!stopped) {
      val c0 = bean.getCurrentThreadCpuTime
      sink += compute(buf)
      val c1 = bean.getCurrentThreadCpuTime
      at = chase(next, at, ChaseSteps)
      val c2 = bean.getCurrentThreadCpuTime
      samples.add((Main.nowMs, (c1 - c0) / 1e6, (c2 - c1) / 1e6))
      Thread.sleep(periodMs)
    }
  }, "perfbench-hostclock")
  thread.setDaemon(true)

  def start(): Unit = thread.start()
  def stop(): Unit = { stopped = true; thread.join() }

  /** Median CPU milliseconds of (compute, memory) over the samples taken
    * in [fromMs, toMs].
    */
  def medians(fromMs: Double, toMs: Double): (Double, Double) = {
    val in = samples.asScala.toSeq.filter { case (t, _, _) => t >= fromMs && t <= toMs }
    if (in.size < MinSamples)
      throw new IllegalStateException(s"${in.size} host clock samples in a measured interval")
    (Stats.median(in.map(_._2)), Stats.median(in.map(_._3)))
  }

  /** Reference speed over the host's speed in [fromMs, toMs]: below 1 on
    * a slow host. A time scaled to the reference speed is the measured
    * time times the factor.
    */
  def factor(fromMs: Double, toMs: Double): Double = {
    val (c, m) = medians(fromMs, toMs)
    RefComputeMs * RefMemoryMs / (c * m)
  }
}

object HostClock {
  /** The kernels' CPU milliseconds at the reference speed: round figures
    * near their medians on a 4-vCPU Xeon VM in its slower phases.
    */
  val RefComputeMs = 0.5
  val RefMemoryMs = 1.5
  val ChaseSteps = 5000
  /** Fewer samples than this in an interval (about one second) is no
    * measurement.
    */
  val MinSamples = 50

  /** 64 passes of a multiply-xor hash over `buf`, 32 KB. */
  def compute(buf: Array[Long]): Long = {
    var h = 1469598103934665603L
    var r = 0
    while (r < 64) {
      var i = 0
      while (i < buf.length) {
        h = (h ^ buf(i)) * 1099511628211L
        buf(i) = h >>> 7
        i += 1
      }
      r += 1
    }
    h
  }

  /** A random cycle through `n` slots. */
  def ring(n: Int, seed: Long): Array[Int] = {
    val order = Array.tabulate(n)(identity)
    val rnd = new scala.util.Random(seed)
    var i = n - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
      i -= 1
    }
    val next = new Array[Int](n)
    while (i < n) { next(order(i)) = order((i + 1) % n); i += 1 }
    next
  }

  /** `steps` dependent loads along the cycle `next`, from `from`. */
  def chase(next: Array[Int], from: Int, steps: Int): Int = {
    var at = from
    var i = 0
    while (i < steps) { at = next(at); i += 1 }
    at
  }
}
