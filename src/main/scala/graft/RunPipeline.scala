package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Readings
import graft.streaming.RadiationPipeline

/** Executable end-to-end streaming demo — the Spark analog of the
  * reference's `flink_process.py:main` wired to its `data_provider`:
  * replay the events table as radiation-shaped JSON records through a file
  * stream, run the full parse → validate → dedup → cohort-window → route
  * pipeline, and report the three sink counts and the served dashboard.
  *
  * Usage: runMain graft.RunPipeline [sfDir] [workDir]
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val workDir = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft_pipeline").toString)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try println(run(spark, sfDir, workDir)) finally spark.stop()
  }

  /** The demo on a running session: replay `sfDir`'s events through the
    * pipeline under `workDir`, poll the served endpoints, and return the
    * summary line. Fails with `sys.error` when a served round trip does
    * not match what the sinks delivered.
    */
  def run(spark: SparkSession, sfDir: String, workDir: String): String = {
    // producer side: events → radiation-record JSON files (the offline
    // stand-in for the Kafka topic; Ingest.rateReplay is the paced variant)
    val readings = Readings.readings(spark, sfDir)
    readings.select(to_json(struct(
        date_format(col("sec"), "yyyy-MM-dd HH:mm:ss").as("captured_time"),
        col("lat").as("latitude"),
        col("lon").as("longitude"),
        col("value"),
        col("unit"),
        (col("event_id") * 0L).as("ingestion_timestamp"))).as("value"))
      .write.mode(SaveMode.Overwrite).text(s"$workDir/in")

    // consumer side: file stream → full pipeline → three parquet sinks
    val raw = spark.readStream
      .schema("value STRING")
      .text(s"$workDir/in")
      .toDF("value")
    // S7 debug sink behind the demo: GRAFT_CONSOLE=1 echoes the validated
    // stream to stdout beside the real sinks (reference print(), py:393-394)
    val console = sys.env.get("GRAFT_CONSOLE").filter(_ == "1").map { _ =>
      RadiationPipeline.debugConsole(
        RadiationPipeline.validate(RadiationPipeline.parse(raw)))
    }
    // S9 serving fold: snapshot fed from inside the pipeline epoch, served
    // over HTTP beside the sinks (the reference's WebSocket backend analog)
    val snap = new streaming.Serve.Snapshot(cap = 50)
    val speed = new java.util.concurrent.atomic.AtomicReference[java.lang.Double](1.0)
    val server = streaming.Serve.http(snap, speed)
    val q = RadiationPipeline.run(raw, s"$workDir/out", s"$workDir/ckpt",
      Readings.Thresholds(danger = 400.0),
      onEpoch = streaming.Serve.foldEpoch(_, snap, _))
    q.awaitTermination(300000)
    console.foreach { c => c.processAllAvailable(); c.stop() }

    // poll our own endpoint — the demo proves the serve path end to end
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    def get(url: String): String = {
      val c = java.net.URI.create(url).toURL.openConnection()
      new String(c.getInputStream.readAllBytes(), "UTF-8")
    }
    val served = get(s"$base/api/snapshot")
    val dashboard = get(s"$base/api/dashboard")
    val (nServed, cServed) = snap.counts
    // the reference's speed-control POST round-trips through the same server
    val post = java.net.URI.create(s"$base/api/playback_speed").toURL
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    post.setRequestMethod("POST"); post.setDoOutput(true)
    post.getOutputStream.write("""{"playback_speed": 2.5}""".getBytes("UTF-8"))
    val speedResp = new String(post.getInputStream.readAllBytes(), "UTF-8")
    server.stop(0)

    val counts = Seq("normal-data", "critical-data", "dirty-data").map { t =>
      t -> (try spark.read.parquet(s"$workDir/out/$t").count() catch { case _: Throwable => 0L })
    }
    val stats = new ObjectMapper().readTree(dashboard).get("stats")
    val summary = s"""{"pipeline":"radiation","sf":"$sfDir",""" +
      counts.map { case (t, n) => s""""$t":$n,""" }.mkString +
      s""""served-normal":$nServed,"served-critical":$cServed,"served-bytes":${served.length},""" +
      Seq("total_points", "average_radiation", "dangerous_points")
        .map(f => s""""dashboard-$f":${stats.get(f)},""").mkString + s""""speed":${speed.get}}"""
    // the demo EXISTS to prove these round trips, so the checks must not be
    // elidable (assert() vanishes under -Xdisable-assertions) and must
    // compare parsed values, not substrings
    val echoed = """"playback_speed"\s*:\s*([-+0-9.eE]+)""".r
      .findFirstMatchIn(speedResp).map(_.group(1).toDouble)
    if (!echoed.contains(2.5) || speed.get.doubleValue != 2.5)
      sys.error(s"speed POST round trip failed: response=$speedResp shared=${speed.get}")
    if (stats.get("total_points").asLong != counts.take(2).map(_._2).sum)
      sys.error(s"dashboard total_points differ from the delivered sink rows: $summary")
    summary
  }
}
