package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import graft.streaming.{RadiationPipeline, Serve}

/** One GET of `/api/snapshot`: request start and response end in
  * milliseconds, and the index of the body it returned in `bodies`.
  */
final case class Poll(startMs: Double, endMs: Double, body: Int) {
  def ms: Double = endMs - startMs
}

/** The dashboard wired as the program's `RunPipeline` wires it:
  * `Serve.foldEpoch` into a `Serve.Snapshot` inside the epoch hook, served
  * by `Serve.http`; plus one poller that GETs `/api/snapshot` every
  * `pollMs`. Records when each epoch's sinks were written, when its fold
  * ran, and every poll.
  */
final class Dashboard(pollMs: Int = 20) {
  import Main.nowMs

  /** Epoch id -> the time its sinks were written (the hook's start). */
  val sinkMs = new ConcurrentHashMap[Long, Double]()
  /** Epoch id -> (start, end) of its fold. */
  val foldMs = new ConcurrentHashMap[Long, (Double, Double)]()

  private val snap = new Serve.Snapshot(cap = 100)
  private val server = Serve.http(snap, new AtomicReference[java.lang.Double](1.0))
  private val url =
    java.net.URI.create(s"http://127.0.0.1:${server.getAddress.getPort}/api/snapshot").toURL
  private val polls = new ConcurrentLinkedQueue[Poll]()
  // distinct bodies in the order they were first served; the snapshot
  // changes once per epoch, so consecutive polls mostly repeat one
  @volatile private var bodyLog = Vector.empty[String]
  @volatile private var stopped = false

  private val poller = new Thread(() => {
    while (!stopped) {
      val a = nowMs
      val stream = url.openStream()
      val body = try new String(stream.readAllBytes(), UTF_8) finally stream.close()
      val b = nowMs
      if (bodyLog.isEmpty || bodyLog.last != body) bodyLog :+= body
      polls.add(Poll(a, b, bodyLog.size - 1))
      Thread.sleep(pollMs)
    }
  }, "perfbench-poller")

  /** The pipeline's epoch hook. */
  def onEpoch(r: RadiationPipeline.Routed, id: Long): Unit = {
    val t = nowMs
    sinkMs.put(id, t)
    Serve.foldEpoch(r, snap, id)
    foldMs.put(id, (t, nowMs))
  }

  def start(): Unit = poller.start()

  def stop(): Unit = {
    stopped = true
    poller.join()
    server.stop(0)
  }

  def sinkAt(epoch: Long): Option[Double] = Option(sinkMs.get(epoch))
  def foldEnd(epoch: Long): Option[Double] = Option(foldMs.get(epoch)).map(_._2)

  /** Polls whose request started in [fromMs, toMs]. */
  def pollsIn(fromMs: Double, toMs: Double): Seq[Poll] =
    polls.asScala.toSeq.filter(p => p.startMs >= fromMs && p.startMs <= toMs)

  def bodies: Vector[String] = bodyLog
}

object Dashboard {
  private val KeyField = "\"dedup_key\":\"((?:[^\"\\\\]|\\\\.)*)\"".r

  /** The dedup keys of the rows a snapshot body shows. */
  def keys(body: String): Seq[String] =
    KeyField.findAllMatchIn(body).map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\")).toSeq

  /** Staleness of each poll that shows at least one row: the poll's
    * response time minus the time the newest epoch among the rows it
    * shows wrote its sinks. `deliveredAt` maps a dedup key to that time.
    */
  def staleMs(polls: Seq[Poll], bodies: Vector[String],
              deliveredAt: String => Option[Double]): Seq[Double] = {
    val newest = bodies.map(b => keys(b).flatMap(deliveredAt).maxOption)
    polls.flatMap(p => newest(p.body).map(p.endMs - _))
  }
}
