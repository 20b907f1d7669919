package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.SparkEntry
import graft.streaming.{RadiationPipeline, Transport}

/** The two stream workloads. Both drive `RadiationPipeline.run` with the
  * dashboard in the epoch hook, as the program's `RunPipeline` does, and
  * read the three parquet sinks back to check them against the
  * generator's ground truth, outside the timed window.
  */
object StreamBench {
  import Main.nowMs

  val RowsPerFile = 500
  val DrainRowsPerFile = 4000
  /** Drain backlog rows per second of `--seconds`: two timed epochs at
    * `--seconds 8`, plus the flush.
    */
  val DrainRowsPerSecond = 1000
  /** Files (and epochs) before the timed drain starts. */
  val DrainWarmFiles = 3
  val TickMs = 500
  val RowsPerTick = 250
  /** Event time runs at four times the wall clock (a replay at playback
    * speed 4), so the watermark's 6 s of event time cost 1.5 s of wall
    * time and freshness is dominated by the pipeline, not by the window.
    */
  val EventSecondsPerTick = 2
  val WarmTicks = 8
  /** Ticks written on schedule before the measured ones: the pipeline
    * leaves its idle state and its epochs grow to their steady size (about
    * two epochs) before a measured row is due.
    */
  val LeadTicks = 12
  /** A paced run is invalid if, over its measured epochs, the later half
    * carries this many times the rows of the earlier half: the backlog
    * grew, so the pipeline was not keeping up with the offered rate.
    */
  val SteadyRatio = 1.5

  private def writeLines(path: String, lines: Iterator[String]): Unit =
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(UTF_8))

  private[perfbench] def rmrf(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rmrf))
    f.delete()
  }

  /** A drain backlog: files of the given sizes, one file per epoch, the
    * last also carrying the sentinel. The ingestion stamp is the event
    * time, so the files are a pure function of the seed.
    */
  private[perfbench] def writeBacklog(gen: StreamGen, sizes: Seq[Int], in: String): Vector[Vector[GenRow]] = {
    rmrf(new File(in)); new File(in).mkdirs()
    val files = sizes.map(gen.backlog).toVector
    val last = files.size - 1
    // the file source orders a backlog by modification time: make that the
    // write order, whatever the file system's timestamp resolution
    val t = System.currentTimeMillis() - files.size * 1000L
    files.zipWithIndex.foreach { case (chunk, i) =>
      val path = f"$in/part-$i%05d.json"
      val lines = if (i < last) chunk else chunk :+ gen.sentinel(chunk.last.eventSec)
      writeLines(path, lines.iterator.map(r => r.line(r.eventSec * 1000)))
      new File(path).setLastModified(t + i * 1000L)
    }
    files
  }

  /** Rows of the three sinks with the epoch that wrote them. */
  private[perfbench] def readSinks(spark: SparkSession, out: String): Seq[Truth.Delivered] =
    Route.all.flatMap { r =>
      val p = s"$out/${r.dir}"
      if (!new File(p).exists()) Seq.empty
      else spark.read.parquet(p).select(col("dedup_key"), col("epoch").cast("long"))
        .collect().map(row => Truth.Delivered(r, row.getString(0), row.getLong(1))).toSeq
    }

  private def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  private def need[A](xs: Seq[A], what: String): Seq[A] =
    if (xs.nonEmpty) xs else throw new IllegalStateException(s"no $what in the progress reports")

  /** Per-layer numbers of one streaming query from its progress reports:
    * `all` from the query's start, `ps` the timed epochs, `read` the
    * epochs that read exactly `lines` generated lines. A layer missing from
    * the reports fails the run rather than reading as zero.
    */
  private def progressLayers(all: Seq[StreamingQueryProgress], ps: Seq[StreamingQueryProgress],
                             read: Seq[StreamingQueryProgress], lines: Long): Map[String, Double] = {
    val data = ps.filter(_.numInputRows > 0)
    // epochs without input are rare in a timed window: take them from the
    // whole query but its first, cold epoch
    val empty = all.drop(1).filter(_.numInputRows == 0)
    val phases = Seq("queryPlanning", "getBatch", "latestOffset", "addBatch", "walCommit", "commitOffsets")
      .map(k => s"epoch.${k}_ms" -> ps.map(dur(_, k)).sum)
    val ops = Seq("dedupeWithinWatermark" -> "dedup_wm", "stateStoreSave" -> "window", "dedupe" -> "bypass_dedup")
    val state = ops.flatMap { case (op, label) =>
      val each = need(ps.flatMap(_.stateOperators.filter(_.operatorName == op)), s"state operator $op")
      val fin = need(ps.last.stateOperators.toSeq.filter(_.operatorName == op), s"final state of $op")
      Seq(
        s"state.$label.rows" -> fin.map(_.numRowsTotal.toDouble).sum,
        s"state.$label.bytes" -> fin.map(_.memoryUsedBytes.toDouble).sum,
        s"state.$label.update_ms" -> each.map(_.allUpdatesTimeMs.toDouble).sum,
        s"state.$label.commit_ms" -> each.map(_.commitTimeMs.toDouble).sum,
        s"state.$label.late_dropped" -> each.map(_.numRowsDroppedByWatermark.toDouble).sum)
    }
    val trig = need(data.map(dur(_, "triggerExecution")), "epoch with input")
    Map(
      "epoch.n" -> ps.size.toDouble,
      "epoch.first_ms" -> dur(need(all, "epoch").head, "triggerExecution"),
      "epoch.trigger_ms.p50" -> Stats.median(trig),
      "epoch.trigger_ms.max" -> trig.max,
      "epoch.empty_ms.p50" -> Stats.median(need(empty.map(dur(_, "triggerExecution")), "epoch without input")),
      "source.reads_per_row" -> read.map(_.numInputRows).sum.toDouble / lines
    ) ++ phases ++ state
  }

  /** Spans epoch → writeEpoch → foldEpoch per batch id, and the summed
    * sink and fold milliseconds of the timed epochs.
    */
  private def epochSpans(ctx: Ctx, ps: Seq[StreamingQueryProgress], dash: Dashboard): Map[String, Double] = {
    var write = 0.0
    var fold = 0.0
    ps.foreach { p =>
      val start = startMs(p)
      val trace = s"epoch-${p.batchId}"
      val epoch = ctx.tracer.add(trace, 0, "epoch", start, start + dur(p, "triggerExecution"))
      dash.sinkAt(p.batchId).foreach { sunk =>
        val ws = ctx.engine.firstJob(p.batchId).map(_.toDouble).getOrElse(start)
        write += sunk - ws
        val w = ctx.tracer.add(trace, epoch, "writeEpoch", ws, sunk)
        Option(dash.foldMs.get(p.batchId)).foreach { case (f0, f1) =>
          fold += f1 - f0
          ctx.tracer.add(trace, w, "foldEpoch", f0, f1)
        }
      }
    }
    Map("sink.write_ms" -> write, "serve.fold_ms" -> fold)
  }

  /** GET latency and staleness of the polls in the timed window. */
  private def serveLayers(dash: Dashboard, fromMs: Double, toMs: Double,
                          delivered: Seq[Truth.Delivered]): Map[String, Double] = {
    val polls = need(dash.pollsIn(fromMs, toMs), "dashboard poll")
    val epochOf = delivered.map(d => d.key -> d.epoch).toMap
    val stale = need(Dashboard.staleMs(polls, dash.bodies, k => epochOf.get(k).flatMap(dash.sinkAt)),
      "dashboard poll that shows a row")
    val gets = polls.map(_.ms)
    Map(
      "serve.get_ms.p50" -> Stats.median(gets),
      "serve.get_ms.tail" -> Stats.tail(gets)._2,
      "serve.stale_p50_ms" -> Stats.median(stale))
  }

  private def verdictLayers(v: Truth.Verdict): Map[String, Double] = Map(
    "sink.rows.normal" -> v.delivered(Route.Normal).count.toDouble,
    "sink.rows.critical" -> v.delivered(Route.Critical).count.toDouble,
    "sink.rows.dirty" -> v.delivered(Route.Dirty).count.toDouble)

  private def report(name: String, v: Truth.Verdict): Unit =
    System.err.println(s"[perfbench] $name check: expected=${v.expected} delivered=${v.delivered} " +
      s"missing=${v.missing} unexpected=${v.unexpected} repeated=${v.repeated}")

  private def epochsLog(q: StreamingQuery): String =
    q.recentProgress.map(p => s"${p.numInputRows}:${dur(p, "triggerExecution").toLong}").mkString(" ")

  /** One AvailableNow drain of the backlog in `in`, one file per epoch,
    * with the dashboard in the epoch hook. The timed drain starts when the
    * hook of the last warm-up epoch returns and ends at termination.
    */
  private final case class Drained(q: StreamingQuery, dash: Dashboard, t0: Double, t1: Double)

  private def drainOnce(ctx: Ctx, in: String, tag: String): Drained = {
    val out = ctx.dir(s"drain/$tag-out")
    val ckpt = ctx.dir(s"drain/$tag-ckpt")
    val dash = new Dashboard
    val t0 = new java.util.concurrent.atomic.AtomicReference[java.lang.Double](Double.NaN)
    val raw = ctx.spark.readStream.option("maxFilesPerTrigger", "1").text(in).select(col("value"))
    dash.start()
    val q = RadiationPipeline.run(raw, out, ckpt, SparkEntry.T,
      onEpoch = (r, id) => {
        dash.onEpoch(r, id)
        if (id == DrainWarmFiles - 1) {
          t0.set(nowMs)
          ctx.engine.on = ctx.traced
        }
      })
    q.awaitTermination()
    ctx.engine.on = false
    val t1 = nowMs
    dash.stop()
    Drained(q, dash, t0.get, t1)
  }

  /** Backlog catch-up: every file exists before `start()`; AvailableNow
    * reads one file per epoch. The first `DrainWarmFiles` epochs warm the
    * JVM up: a small file that absorbs the query's start, then
    * `DrainRowsPerFile` rows each, because the first large epochs in a JVM
    * run while the JIT is still compiling the pipeline's hot paths and
    * their rate swings between runs. The timed drain runs from the end of
    * the last warm-up epoch to termination, including the final epoch in
    * which the sentinel's watermark flushes every window. A row's latency is the time
    * from the start of the epoch that read its file to the epoch that
    * delivered it.
    */
  def drain(ctx: Ctx): Outcome = {
    val rows = DrainRowsPerSecond * ctx.seconds
    val in = ctx.dir("drain/in")
    val sizes = Seq(RowsPerFile) ++ Seq.fill(DrainWarmFiles - 1)(DrainRowsPerFile) ++
      Seq.fill(rows / DrainRowsPerFile)(DrainRowsPerFile) ++ Seq(rows % DrainRowsPerFile).filter(_ > 0)
    val files = writeBacklog(new StreamGen(ctx.seed), sizes, in)
    val input = files.flatten
    val timedRows = files.drop(DrainWarmFiles).flatten
    Main.mark("input written")

    val d = drainOnce(ctx, in, "timed")
    val ps = d.q.recentProgress.toSeq.sortBy(_.batchId)
    Main.mark(f"drained: timed ${(d.t1 - d.t0) / 1000}%.1f s, epochs ${epochsLog(d.q)}")
    val delivered = readSinks(ctx.spark, s"${ctx.work}/drain/timed-out")
    val v = Truth.check(input, delivered)
    report("drain", v)

    // one file per epoch: the epochs with input read the files in order
    val reads = ps.filter(_.numInputRows > 0).map(startMs)
    if (reads.size != files.size)
      throw new IllegalStateException(s"${files.size} files but ${reads.size} epochs with input")
    val fileOf = scala.collection.mutable.HashMap.empty[String, Int]
    files.zipWithIndex.foreach { case (f, i) =>
      f.filterNot(_.dup).foreach(r => fileOf.getOrElseUpdate(r.key, i))
    }
    val lat = delivered.flatMap(r => for {
      i <- fileOf.get(r.key) if i >= DrainWarmFiles
      read = reads(i)
      sunk <- d.dash.sinkAt(r.epoch)
    } yield sunk - read)
    val timedS = (d.t1 - d.t0) / 1000.0
    val (p50, tail) = (Stats.median(lat), Stats.tail(lat)._2)
    val e2e = (f: Double) => Map(
      "ops_per_s" -> timedRows.size / (timedS * f),
      "op_p50_ms" -> p50 * f,
      "op_tail_ms" -> tail * f)
    val layers =
      if (!ctx.traced) Map.empty[String, Double]
      else {
        val all = ctx.progress.of(d.q.id)
        val timed = all.filter(_.batchId >= DrainWarmFiles)
        progressLayers(all, timed, timed, timedRows.size + 1L) ++ epochSpans(ctx, timed, d.dash) ++
          serveLayers(d.dash, d.t0, d.t1, delivered) ++ verdictLayers(v)
      }
    Outcome(input.size, v.failed, d.t0, d.t1, e2e, layers, () => local1(ctx, in, timedRows.size))
  }

  /** The same drain on `local[1]`, the single-core baseline of a traced
    * drain. It stops the benchmark's session, so it runs last; it is
    * recorded in the trace and the log, not as a metric.
    */
  private def local1(ctx: Ctx, in: String, timedRows: Int): Unit = {
    ctx.spark.stop()
    ctx.spark = Main.session(1, ctx.work)
    val d = drainOnce(ctx, in, "local1")
    ctx.tracer.add("local1", 0, "drain.local1", d.t0, d.t1)
    System.err.println(f"[perfbench] local[1] baseline: ${timedRows / ((d.t1 - d.t0) / 1000.0)}%.1f rows/s")
  }

  /** Whether a paced run kept up: over the measured epochs with input,
    * the later half must not carry `SteadyRatio` times the rows of the
    * earlier half.
    */
  private[perfbench] def steady(epochRows: Seq[Double]): Boolean = {
    val (early, late) = epochRows.splitAt(epochRows.size / 2)
    def mean(s: Seq[Double]) = s.sum / s.size
    early.nonEmpty && late.nonEmpty && mean(late) <= SteadyRatio * mean(early)
  }

  /** Live tail, open loop: a generator thread writes one file every
    * `TickMs` on a fixed schedule (500 rows/s), stamping each row with its
    * due time; the pipeline runs under ProcessingTime(0) with the
    * dashboard in its epoch hook. After `LeadTicks`, rows due in the next
    * `--seconds` are measured; the generator keeps the same pace until the watermark has
    * closed their windows, and the query stops there. The run is invalid
    * if the generator fell a tick behind its schedule or the pipeline's
    * backlog grew.
    */
  def paced(ctx: Ctx): Outcome = {
    val in = ctx.dir("paced/in")
    val staging = ctx.dir("paced/staging")
    val out = ctx.dir("paced/out")
    val ckpt = ctx.dir("paced/ckpt")
    val first = WarmTicks + LeadTicks
    val end = first + ctx.seconds * 1000 / TickMs
    val maxTicks = end + 20 * 1000 / TickMs
    def secOf(tick: Int): Long = StreamGen.BaseSec + tick * EventSecondsPerTick
    val gen = new StreamGen(ctx.seed)
    val ticks = (0 until maxTicks).map(k => gen.tick(RowsPerTick, secOf(k)))

    def put(name: String, lines: Iterator[String]): Unit = {
      val tmp = s"$staging/$name"
      writeLines(tmp, lines)
      Files.move(Paths.get(tmp), Paths.get(in, name), StandardCopyOption.ATOMIC_MOVE)
    }

    val dash = new Dashboard
    // warm-up: the first ticks exist before start and are processed before
    // the clock starts, so the first (planning-heavy) epoch is not timed
    (0 until WarmTicks).foreach { k =>
      val now = System.currentTimeMillis()
      put(f"tick-$k%06d.json", ticks(k).iterator.map(_.line(now)))
    }
    val q = RadiationPipeline.run(ctx.spark, Transport.Dir(in, out), ckpt, SparkEntry.T,
      bounded = true, Trigger.ProcessingTime(0L), onEpoch = dash.onEpoch)
    q.processAllAvailable()
    val warmBatches = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
    Main.mark(s"warm-up done after $warmBatches epochs")

    val tStart = System.currentTimeMillis() + 100.0
    def dueAt(k: Int): Double = tStart + (k - WarmTicks) * TickMs
    val t0 = dueAt(first)
    val due = new ConcurrentHashMap[Int, (Double, Double)]() // tick -> (due, written)
    @volatile var stop = false
    val generator = new Thread(() => {
      var k = WarmTicks
      while (!stop && k < maxTicks) {
        val d = dueAt(k)
        val wait = (d - System.currentTimeMillis()).toLong
        if (wait > 0) Thread.sleep(wait)
        if (k == first) ctx.engine.on = ctx.traced
        put(f"tick-$k%06d.json", ticks(k).iterator.map(_.line(d.toLong)))
        due.put(k, (d, System.currentTimeMillis().toDouble))
        k += 1
      }
    }, "perfbench-generator")
    generator.start(); dash.start()

    // all measured rows are delivered once the watermark passes the end of
    // the last measured tick's window
    val lastMeasuredSec = secOf(end - 1)
    def watermarkMs: Long = Option(q.lastProgress).flatMap(p => Option(p.eventTime.get("watermark")))
      .map(w => java.time.Instant.parse(w).toEpochMilli).getOrElse(0L)
    // (a progress report's watermark is the one its epoch evicted with);
    // a measured row still missing at the deadline is a failed operation
    val deadline = t0 + (ctx.seconds + 40) * 1000.0
    while (watermarkMs < (lastMeasuredSec + 1) * 1000 && System.currentTimeMillis() < deadline && q.isActive)
      Thread.sleep(50)
    stop = true
    generator.join()
    val t1 = System.currentTimeMillis().toDouble
    ctx.engine.on = false
    q.exception.foreach(e => throw e)
    // the ticks written after the measured ones are still in the pipeline:
    // their rows may be delivered but are not required
    q.stop()
    dash.stop()
    Main.mark(s"measured rows delivered, epochs ${epochsLog(q)}")
    val input = (0 until end).flatMap(ticks)
    val pending = due.keySet.asScala.map(_.toInt).filter(_ >= end).toSeq.flatMap(ticks)

    // validity: the generator kept its schedule and the backlog stayed flat
    val lateMs = due.values.asScala.map { case (d, w) => w - d }.max
    val window = q.recentProgress.toSeq.sortBy(_.batchId)
      .filter(p => p.batchId > warmBatches && p.numInputRows > 0 && startMs(p) >= t0 && startMs(p) <= t1)
    val epochRows = window.map(_.numInputRows.toDouble)
    System.err.println(f"[perfbench] paced: generator late max $lateMs%.1f ms, measured epochs " +
      window.map(p => s"${p.numInputRows}:${dur(p, "triggerExecution").toLong}").mkString(" "))
    if (lateMs > TickMs)
      throw new IllegalStateException(f"invalid run: the generator ran $lateMs%.0f ms late")
    if (!steady(epochRows))
      throw new IllegalStateException(s"invalid run: the backlog grew (epoch input rows ${epochRows.mkString(" ")})")

    val delivered = readSinks(ctx.spark, out)
    val v = Truth.check(input, delivered, pending)
    report("paced", v)
    // freshness of measured rows: due time of a key's first line to the
    // epoch that delivered it
    val firstDue = scala.collection.mutable.HashMap.empty[String, Double]
    (first until end).filter(due.containsKey).foreach { k =>
      ticks(k).filterNot(_.dup).foreach(r => firstDue.getOrElseUpdate(r.key, due.get(k)._1))
    }
    val fresh = delivered.flatMap(d => firstDue.get(d.key).flatMap(t => dash.sinkAt(d.epoch).map(_ - t)))
    // window throughput: the measured lines over the time from the start
    // of the window until the last of them reached its sink
    val measuredLines = (first until end).filter(due.containsKey)
      .map(ticks(_).size).sum
    val lastDelivery = delivered.filter(d => firstDue.contains(d.key)).flatMap(d => dash.sinkAt(d.epoch)).max
    // the window's length is the generator's schedule; only the lag after
    // it, the pipeline's time, scales with the host's speed
    val windowMs = ctx.seconds * 1000.0
    val lagMs = lastDelivery - t0 - windowMs
    val (p50, tail) = (Stats.median(fresh), Stats.tail(fresh)._2)
    val e2e = (f: Double) => Map(
      "ops_per_s" -> measuredLines / ((windowMs + lagMs * f) / 1000.0),
      "op_p50_ms" -> p50 * f,
      "op_tail_ms" -> tail * f)
    val layers =
      if (!ctx.traced) Map.empty[String, Double]
      else {
        val all = ctx.progress.of(q.id)
        // the query stops inside an epoch whose files are not known; the
        // warm-up epochs read exactly the warm-up ticks
        val warm = all.filter(_.batchId <= warmBatches)
        val timed = all.filter(p => p.batchId > warmBatches && startMs(p) >= t0)
        progressLayers(all, timed, warm, (0 until WarmTicks).map(ticks(_).size).sum.toLong) ++
          epochSpans(ctx, timed, dash) ++ serveLayers(dash, t0, t1, delivered) ++ verdictLayers(v)
      }
    System.err.println(f"[perfbench] paced: ${fresh.size} measured rows, window ${(t1 - t0) / 1000}%.1f s")
    Outcome(input.size, v.failed, t0, t1, e2e, layers, () => ())
  }
}
