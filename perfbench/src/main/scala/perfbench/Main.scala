package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** What one stream workload run measured. `timedStartMs` is when the
  * first timed call began and `timedEndMs` when the timed window ended;
  * `endToEnd` gives the end-to-end metrics with the pipeline's times
  * scaled by a host-speed factor (`HostClock.factor`; 1 gives them as
  * measured); `endToEnd` and `perLayer` are keyed by the metric names in
  * BENCHMARK.json; `last` runs at the end of a traced run.
  */
final case class Outcome(attempted: Long, failed: Long, timedStartMs: Double, timedEndMs: Double,
                         endToEnd: Double => Map[String, Double], perLayer: Map[String, Double],
                         last: () => Unit)

/** Everything a workload needs: the session, its arguments and, in a
  * traced run, the tracer and listeners.
  */
final class Ctx(var spark: SparkSession, val seed: Long, val seconds: Int,
                val traced: Boolean, val work: String) {
  val tracer = new Tracer
  val engine = new EngineListener
  val progress = new ProgressListener
  if (traced) {
    spark.sparkContext.addSparkListener(engine)
    spark.streams.addListener(progress)
  }

  def dir(name: String): String = {
    val d = new File(work, name)
    d.mkdirs()
    d.getPath
  }
}

/** Benchmark entry point: one workload per JVM.
  *
  * Usage: perfbench.Main --workload drain|paced --seed N --seconds S
  *        --trace 0|1 --work DIR
  *
  * A traced run runs the workload, then the batch layers
  * (`BatchBench.pass`), then the outcome's `last` step.
  *
  * Prints one line `PERFBENCH {json}` with the raw measurements; the
  * `run.py` wrapper adds units, runs the batch oracle check and prints the
  * final result line. Exits 1 on any failure, including an invalid run.
  */
object Main {

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def nowMs: Double = System.nanoTime() / 1e6 + clockOffsetMs
  // nanoTime for precision, anchored once to the wall clock so spans, due
  // times and listener timestamps share one time base
  private lazy val clockOffsetMs: Double = System.currentTimeMillis() - System.nanoTime() / 1e6

  val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  def sinceStartS: Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  /** Log a phase boundary, in seconds since JVM start, to stderr. */
  def mark(phase: String): Unit = System.err.println(f"[perfbench] +$sinceStartS%.1fs $phase")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val runner: Ctx => Outcome = a.getOrElse("workload", "") match {
      case "drain" => StreamBench.drain
      case "paced" => StreamBench.paced
      case w => System.err.println(s"unknown workload '$w'"); sys.exit(2)
    }
    val work = a.getOrElse("work", "perfbench-work")
    try {
      val clock = new HostClock
      clock.start()
      val spark = session(4, work)
      mark("session ready")
      val ctx = new Ctx(spark, a("seed").toLong, a("seconds").toInt, a("trace") == "1", work)
      val out = runner(ctx)
      clock.stop()
      // set-up: JVM start to the first timed call; both it and the timed
      // window are scaled to the reference host speed by the host clock
      // over their own interval
      val setupS = (out.timedStartMs - jvmStartMs) / 1000.0
      val setupF = clock.factor(jvmStartMs, out.timedStartMs)
      val runF = clock.factor(out.timedStartMs, out.timedEndMs)
      val (computeMs, memoryMs) = clock.medians(out.timedStartMs, out.timedEndMs)
      val fmt = (m: Map[String, Double]) => m.toSeq.sorted.map { case (k, v) => f"$k=$v%.1f" }.mkString(" ")
      mark(f"host clock: compute $computeMs%.3f ms, memory $memoryMs%.3f ms, factor $runF%.3f " +
        f"(set-up $setupF%.3f); as measured: " + fmt(out.endToEnd(1.0) + ("setup_s" -> setupS)))
      val endToEnd = out.endToEnd(runF) + ("setup_s" -> setupS * setupF)
      val (attempted, failed, metrics) =
        if (!ctx.traced) (out.attempted, out.failed, endToEnd)
        else {
          val engine = ctx.engine.counters
          val batch = BatchBench.pass(ctx)
          out.last()
          Files.write(Paths.get(work, "trace.json"), ctx.tracer.json.getBytes(UTF_8))
          (out.attempted + batch.attempted, out.failed + batch.failed,
            out.perLayer ++ engine ++ batch.layers ++ Seq("trace.listener_ms" -> ctx.engine.callbackMs,
              "trace.ops_per_s" -> endToEnd("ops_per_s"), "host.compute_ms" -> computeMs,
              "host.memory_ms" -> memoryMs))
        }
      mark("done")
      val m = metrics.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      println(s"""PERFBENCH {"attempted":$attempted,"failed":$failed,"metrics":$m}""")
      ctx.spark.stop()
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }
    sys.exit(0)
  }
}
