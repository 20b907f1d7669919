package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One span: times are wall-clock epoch milliseconds; `parent` 0 is a
  * root span; spans of one epoch or query share `trace`.
  */
final case class Span(trace: String, id: Int, parent: Int, name: String,
                      startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Spans of one traced run: held in memory, written once at exit. */
final class Tracer {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)

  def add(trace: String, parent: Int, name: String, startMs: Double, endMs: Double): Int = {
    val id = ids.incrementAndGet()
    spans.add(Span(trace, id, parent, name, startMs, endMs))
    id
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.startMs, s.id))

  /** A span's duration minus the part of it its children cover. */
  def selfMs: Map[Int, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val covered = kids.getOrElse(s.id, Seq.empty)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0.0, Double.NegativeInfinity)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach) else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> (s.ms - covered)
    }.toMap
  }

  def json: String = {
    val self = selfMs
    all.map(s =>
      f"""{"trace":"${s.trace}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"self_ms":${self(s.id)}%.3f}""")
      .mkString("[\n", ",\n", "\n]")
  }
}

/** Engine counters summed over the tasks of a measured interval, plus the
  * start of the first job of each streaming batch (the start of that
  * epoch's sink work: the first write materialises the cached epoch).
  */
final class EngineListener extends SparkListener {
  @volatile var on = false
  private val c = Seq("jobs", "tasks", "exec_cpu_ms", "exec_run_ms", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
    .map(_ -> new AtomicLong()).toMap
  private val firstJobMs = new ConcurrentHashMap[Long, Long]()
  private val callbackNs = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
    val t0 = System.nanoTime()
    c("jobs").incrementAndGet()
    Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .flatMap(_.toLongOption).foreach(b => firstJobMs.putIfAbsent(b, e.time))
    callbackNs.addAndGet(System.nanoTime() - t0)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on && e.taskMetrics != null) {
    val t0 = System.nanoTime()
    val m = e.taskMetrics
    c("tasks").incrementAndGet()
    c("exec_cpu_ms").addAndGet(m.executorCpuTime / 1000000L)
    c("exec_run_ms").addAndGet(m.executorRunTime)
    c("gc_ms").addAndGet(m.jvmGCTime)
    c("shuffle_read_bytes").addAndGet(m.shuffleReadMetrics.totalBytesRead)
    c("shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
    c("spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    callbackNs.addAndGet(System.nanoTime() - t0)
  }

  def counters: Map[String, Double] = c.map { case (k, v) => s"engine.$k" -> v.get.toDouble }
  def firstJob(batchId: Long): Option[Long] = Option(firstJobMs.get(batchId))
  def callbackMs: Double = callbackNs.get / 1e6
}

/** Collects every progress report of the streaming queries. */
final class ProgressListener extends StreamingQueryListener {
  private val reports = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    reports.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def of(id: java.util.UUID): Seq[StreamingQueryProgress] =
    reports.asScala.filter(_.id == id).toSeq.sortBy(_.batchId)
}
