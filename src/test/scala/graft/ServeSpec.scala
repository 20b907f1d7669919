package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.DashboardAggs
import graft.operators.Readings.Thresholds
import graft.streaming.{RadiationPipeline, Serve, Transport}

/** The serving fold (S9): the epoch hook's record samples and dashboard
  * views, the HTTP endpoints that serve them, and the debug console sink
  * (S7) beside the real sinks.
  */
class ServeSpec extends SparkSuite {
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def rec(ct: String, v: Double, lat: Double = 35.6, unit: String = "cpm"): String =
    s"""{"captured_time": "$ct", "latitude": $lat, "longitude": 139.7, "value": $v, """ +
      s""""unit": "$unit", "ingestion_timestamp": 1}"""

  private def at(s: Int): String = f"2011-03-15 10:${s / 60}%02d:${s % 60}%02d"

  /** One epoch per file under `maxFilesPerTrigger = 1`: duplicates within
    * and across epochs, dirty rows, a valid row without a parseable time,
    * two geo cells, alerts in three cooldown buckets (the 70 cpm reading
    * repeats the 55 one's key an epoch later), then a sentinel past
    * watermark + window that flushes every cohort pane before it.
    */
  private val files = Seq(
    "a.jsonl" -> Seq(rec(at(0), 10), rec(at(1), 120), rec(at(2), 1500), rec(at(2), 1500),
      rec(at(7), 60, lat = 44.0), rec(at(20), 55), rec(at(21), 40, unit = "usv"), "{not json",
      rec("not-a-time", 80)),
    "b.jsonl" -> Seq(rec(at(27), 70), rec(at(20), 55), rec(at(31), 65), rec(at(44), 30, lat = 44.0),
      rec(at(62), 300), rec(at(63), 20, unit = "usv")),
    "c.jsonl" -> Seq(rec(at(300), 1)))

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def write(dir: String, fs: Seq[(String, Seq[String])]): Unit = fs.foreach {
    case (name, lines) => Files.writeString(Path.of(dir, name), lines.mkString("\n"))
  }

  private def sink(out: String, topic: String): DataFrame =
    spark.read.parquet(s"$out/$topic").drop("epoch")

  /** Normal + critical rows under the batch twins' column names. */
  private def twinInput(normal: DataFrame, critical: DataFrame): DataFrame =
    normal.unionByName(critical).select(col("value").as("cpm"), col("level"), col("critical"),
      col("event_time").as("sec"), col("lat"), col("lon"), col("dedup_key").as("event_id"))

  private def delivered(out: String): DataFrame =
    twinInput(sink(out, "normal-data"), sink(out, "critical-data"))

  private def routed(lines: Seq[String]): RadiationPipeline.Routed =
    RadiationPipeline.route(
      RadiationPipeline.validate(RadiationPipeline.parse(lines.toDF("value"))))

  private def get(snap: Serve.Snapshot, path: String): String = {
    val srv = Serve.http(snap, new AtomicReference[java.lang.Double](1.0))
    try new String(java.net.URI.create(s"http://127.0.0.1:${srv.getAddress.getPort}$path")
      .toURL.openStream().readAllBytes(), "UTF-8")
    finally srv.stop(0)
  }

  private def batchAlerts(rows: DataFrame): Seq[Serve.Alert] =
    DashboardAggs.alerts(rows).collect().toSeq.map(r => Serve.Alert(r.getString(0),
      Option(r.getTimestamp(1)).map(_.getTime / 1000), r.getDouble(2), r.getDouble(3),
      r.getInt(4), r.getString(5), Option(r.get(6)).map(_.asInstanceOf[Long])))

  private def assertStats(v: Serve.Views, rows: DataFrame): Unit = {
    val s = DashboardAggs.stats(rows).head()
    assert((v.totals.n, v.averageRadiation, v.totals.low, v.totals.moderate, v.totals.high,
      v.totals.dangerous, v.lastUpdate) == (s.getLong(0), Some(s.getDouble(1)), s.getLong(2),
      s.getLong(3), s.getLong(4), s.getLong(5), Some(s.getTimestamp(6).getTime / 1000)))
  }

  test("S7 console sink tails the validated stream without error") {
    val in = MemoryStream[String]
    val valid = RadiationPipeline.validate(RadiationPipeline.parse(in.toDF()))
      .filter(col("status") === "valid")
    val q = RadiationPipeline.debugConsole(valid, numRows = 5)
    in.addData(rec("2011-03-15 10:00:00", 10), rec("2011-03-15 10:00:01", 20))
    q.processAllAvailable()
    val progress = q.lastProgress
    q.stop()
    assert(progress.sink.description.toLowerCase.contains("console"))
    assert(progress.numInputRows == 2)
  }

  test("S9 serving fold: epoch hook fills the snapshot; HTTP serves it and accepts speed POST") {
    import graft.streaming.Serve
    val dir = java.nio.file.Files.createTempDirectory("graft_serve").toString
    def full(ct: String, v: Double, lat: Double = 35.6): String =
      s"""{"captured_time": "$ct", "latitude": $lat, "longitude": 139.7, "value": $v, "unit": "cpm", "ingestion_timestamp": 1}"""
    val in = MemoryStream[String]
    in.addData(
      full("2011-03-15 10:00:00", v = 42),   // normal
      full("2011-03-15 10:00:00", v = 1500), // critical
      full("2011-03-15 10:10:00", v = 7))    // watermark pusher
    val snap = new Serve.Snapshot(cap = 10)
    val q = RadiationPipeline.run(in.toDF(), s"$dir/out", s"$dir/ckpt",
      graft.operators.Readings.Thresholds(),
      onEpoch = Serve.foldEpoch(_, snap, _))
    q.awaitTermination(60000)
    val (n, c) = snap.counts
    assert(n == 1 && c == 1, s"snapshot counts ($n, $c)")
    // served JSON carries the reference's data_priority tagging
    assert(snap.toJson.contains(""""data_priority":"critical""""))
    assert(snap.toJson.contains(""""data_priority":"normal""""))

    val speed = new java.util.concurrent.atomic.AtomicReference[java.lang.Double](1.0)
    var forwarded = Seq.empty[Double]
    val srv = Serve.http(snap, speed, onSpeed = v => forwarded :+= v)
    try {
      val base = s"http://127.0.0.1:${srv.getAddress.getPort}"
      def get(u: String) = new String(
        java.net.URI.create(u).toURL.openConnection().getInputStream.readAllBytes(), "UTF-8")
      val body = get(s"$base/api/snapshot")
      assert(body.startsWith("""{"normal":[""") && body.contains("critical"))
      val post = java.net.URI.create(s"$base/api/playback_speed").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      post.setRequestMethod("POST"); post.setDoOutput(true)
      post.getOutputStream.write("""{"playback_speed": 0.5}""".getBytes("UTF-8"))
      assert(new String(post.getInputStream.readAllBytes(), "UTF-8").contains("0.5"))
      assert(speed.get == 0.5 && forwarded == Seq(0.5))
      // malformed POST refuses with 400, exactly one update forwarded
      val bad = java.net.URI.create(s"$base/api/playback_speed").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      bad.setRequestMethod("POST"); bad.setDoOutput(true)
      bad.getOutputStream.write("""{"nope": 1}""".getBytes("UTF-8"))
      assert(bad.getResponseCode == 400 && forwarded.size == 1)
    } finally srv.stop(0)
  }

  test("served views equal their batch twins over the delivered sink rows") {
    val (in, out, ckpt) = (tmp("serve-in"), tmp("serve-out"), tmp("serve-ckpt"))
    write(in, files)
    val snap = new Serve.Snapshot(cap = 100)
    val raw = spark.readStream.option("maxFilesPerTrigger", "1").text(in).select(col("value"))
    RadiationPipeline.run(raw, out, ckpt, onEpoch = Serve.foldEpoch(_, snap, _)).awaitTermination()
    val rows = delivered(out)
    val v = snap.views
    assert(sink(out, "dirty-data").count() == 3, "fixture: dirty rows")
    assert(spark.read.parquet(s"$out/normal-data").select("epoch").distinct().count() >= 2,
      "fixture: at least two epochs deliver rows")
    assert(v.geo.size >= 2 && v.alerts.flatMap(_.bucket).distinct.size >= 2, s"fixture: $v")
    assert(rows.filter(col("cpm") === 70).count() == 1 && !v.alerts.exists(_.cpm == 70),
      "a delivered reading inside a key's cooldown must not fire again an epoch later")

    assertStats(v, rows)
    val windows = rows.filter(col("sec").isNotNull)
      .groupBy(expr("unix_timestamp(sec) div 5 * 5").as("w"))
      .agg(count(lit(1)), sum(col("cpm")), sum((col("level") === "low").cast("int")),
        sum((col("level") === "moderate").cast("int")), sum((col("level") === "high").cast("int")),
        sum(col("critical").cast("int")))
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
      .map { case (w, n, s, l, m, h, d) => w -> Serve.Counts(n, s, l, m, h, d) }
    assert(v.windows == windows)
    val geo = DashboardAggs.geoGrid(rows).as[(Long, Long, Int, Long)].collect().toSeq
      .map { case (la, lo, m, n) => ((la, lo), (m, n)) }.sortBy(_._1)
    assert(v.geo == geo)
    val alerts = batchAlerts(rows)
    assert(v.alerts.size == alerts.size && v.alerts.toSet == alerts.toSet)
    assert(get(snap, "/api/dashboard") == v.json)
  }

  test("resident windows and alerts stay within cap while the totals stay exact") {
    // 40 readings 4 s apart, each an alert at its own location: 32 windows
    // and 40 alerts over six cooldown buckets, folded in four epochs
    val epochs = (0 until 40).map(i => rec(at(4 * i), 60 + i, lat = 30 + i * 0.01))
      .grouped(10).toSeq
    val snap = new Serve.Snapshot(cap = 3)
    epochs.zipWithIndex.foreach { case (lines, id) => Serve.foldEpoch(routed(lines), snap, id) }
    val all = routed(epochs.flatten)
    val rows = twinInput(all.normal, all.critical)
    val v = snap.views
    assert(v.windows.map(_._1) == Seq(145L, 150L, 155L).map(_ + 1300183200L))
    val alerts = batchAlerts(rows)
    assert(alerts.size == 40 && v.alerts == alerts.sortBy(a => (a.sec, a.eventId)).takeRight(3))
    assertStats(v, rows)
    // resident: the served alerts and the keys of the newest bucket, which
    // later epochs may still reach
    val newest = alerts.flatMap(_.bucket).max
    val live = alerts.filter(_.bucket.contains(newest))
    assert(snap.residentAlerts == (v.alerts ++ live).distinct.size,
      "cooldown keys of older buckets must leave the fold's state")
  }

  test("a restart from the checkpoint with the same Snapshot serves what one run serves") {
    def run(in: String, out: String, ckpt: String, snap: Serve.Snapshot): Unit =
      RadiationPipeline.run(spark, Transport.Dir(in, out), ckpt, Thresholds(), bounded = true,
        Trigger.AvailableNow(), onEpoch = Serve.foldEpoch(_, snap, _)).awaitTermination()
    val (inA, outA, ckptA) = (tmp("serve-restart-in"), tmp("serve-restart-out"),
      tmp("serve-restart-ckpt"))
    val restarted = new Serve.Snapshot()
    write(inA, files.take(2))
    run(inA, outA, ckptA, restarted)
    val first = restarted.views.json
    write(inA, files.drop(2))
    run(inA, outA, ckptA, restarted)
    assert(restarted.views.json != first, "the restart folded nothing")
    // a replay of an epoch already folded must not count twice
    Serve.foldEpoch(RadiationPipeline.Routed(sink(outA, "normal-data"),
      sink(outA, "critical-data"), sink(outA, "dirty-data")), restarted, 0L)
    val once = new Serve.Snapshot()
    val (inB, outB) = (tmp("serve-once-in"), tmp("serve-once-out"))
    write(inB, files)
    run(inB, outB, tmp("serve-once-ckpt"), once)
    assert(get(restarted, "/api/dashboard") == get(once, "/api/dashboard"))
  }

  test("one fold runs one Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val r = routed(files.head._2)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.properties.getProperty("spark.jobGroup.id") match {
          case "fold" => jobs.incrementAndGet()
          case "marker" => marker.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("fold", "one fold")
      Serve.foldEpoch(r, new Serve.Snapshot(cap = 10), 0L)
      // listener events arrive in order: once the marker job shows, every
      // fold job has been counted
      sc.setJobGroup("marker", "after the fold")
      sc.parallelize(Seq(1)).count()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(jobs.get == 1, s"${jobs.get} jobs")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("RunPipeline serves dashboard totals equal to the delivered sink rows") {
    val summary = RunPipeline.run(spark, sf(), tmp("run-pipeline"))
    def field(f: String): Long =
      s""""$f":([0-9]+)""".r.findFirstMatchIn(summary).get.group(1).toLong
    assert(field("dashboard-total_points") > 0 &&
      field("dashboard-total_points") == field("normal-data") + field("critical-data"), summary)
  }
}
