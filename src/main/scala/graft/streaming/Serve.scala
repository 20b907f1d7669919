package graft.streaming

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicReference

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.math.BigDecimal.RoundingMode

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.DashboardAggs

/** S9 — the serving fold. The reference fans the normal + critical topics
  * out to dashboard clients over WebSocket (`backend/main.py:52-71`,
  * consumer loop `:84-101` tagging each record with `data_priority`), and
  * accepts `POST /api/playback_speed` to republish the speed to the config
  * topic (`:40-50`). SURVEY §2.1 maps the WS presentation layer out of
  * engine scope; this is the thin runnable analog that closes the gap:
  *
  *  - the routed streams fold into a bounded in-memory [[Snapshot]] from
  *    inside the pipeline's own `foreachBatch` epoch (same records, same
  *    tagging);
  *  - a JDK `com.sun.net.httpserver` endpoint serves the snapshot to
  *    polling clients and accepts the playback-speed POST, feeding the
  *    SAME `AtomicReference` the S4 dynamic replay reads
  *    ([[graft.sources.Ingest.dynamicRateReplay]]) — so the reference's
  *    full control loop (client → backend → config → producer pace) is
  *    runnable end to end;
  *  - the same epoch folds the analytics the reference's browser computes
  *    (stats, geo-cluster max, cooldown alerts) into [[Views]], served at
  *    `/api/dashboard`: each is its `DashboardAggs` batch twin over the
  *    delivered rows, merged one epoch at a time.
  *
  * Push-vs-poll delta, documented not hidden: a WS push holds no history,
  * so the poll side keeps the most recent `cap` records per priority —
  * the client's rolling buffer (D4). Within a micro-batch record order is
  * arbitrary (distributed collect), exactly as the reference's
  * per-consumer arrival order is.
  */
object Serve {

  /** The stats view's sums over one group of delivered rows. */
  final case class Counts(n: Long, cpmSum: Long, low: Long, moderate: Long, high: Long,
                          dangerous: Long) {
    def +(o: Counts): Counts = Counts(n + o.n, cpmSum + o.cpmSum, low + o.low,
      moderate + o.moderate, high + o.high, dangerous + o.dangerous)
    private[Serve] def levels: Seq[(String, Long)] = Seq("n_low" -> low,
      "n_moderate" -> moderate, "n_high" -> high, "dangerous_points" -> dangerous)
  }

  /** A served alert: `DashboardAggs.alerts`' row, times in epoch seconds. */
  final case class Alert(eventId: String, sec: Option[Long], lat: Double, lon: Double,
                         cpm: Int, severity: String, bucket: Option[Long])

  /** The served dashboard: running totals with their newest event second,
    * the newest `cap` 5-second windows by start, every 0.5° geo cell as
    * (max cpm, count), and the newest `cap` alerts by (sec, event_id).
    */
  final case class Views(totals: Counts, lastUpdate: Option[Long], windows: Seq[(Long, Counts)],
                         geo: Seq[((Long, Long), (Int, Long))], alerts: Seq[Alert]) {
    /** `DashboardAggs.stats`' rounding of the mean: Spark's `round` on a double. */
    def averageRadiation: Option[Double] = Option.when(totals.n > 0)(
      BigDecimal(totals.cpmSum.toDouble / totals.n).setScale(4, RoundingMode.HALF_UP).toDouble)

    def json: String = mapper.writeValueAsString(ListMap(
      "stats" -> ListMap(Seq("total_points" -> totals.n, "average_radiation" -> averageRadiation) ++
        totals.levels :+ ("last_update" -> lastUpdate) :+ ("windows" -> windows.map {
          case (start, c) => ListMap(Seq("window_start" -> start, "total_points" -> c.n,
            "cpm_sum" -> c.cpmSum) ++ c.levels: _*)
        }): _*),
      "geo" -> geo.map { case ((la, lo), (m, n)) =>
        ListMap("cell_lat" -> la, "cell_lon" -> lo, "max_cpm" -> m, "n_points" -> n)
      },
      "alerts" -> alerts.map(a => ListMap("event_id" -> a.eventId, "sec" -> a.sec, "lat" -> a.lat,
        "lon" -> a.lon, "cpm" -> a.cpm, "severity" -> a.severity, "cooldown_bucket" -> a.bucket))))
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Bounded, thread-safe latest-records buffer per priority, plus the
    * dashboard [[Views]] folded from every claimed epoch.
    */
  final class Snapshot(val cap: Int = 100) {
    private val normal = new java.util.ArrayDeque[String]()
    private val critical = new java.util.ArrayDeque[String]()
    private var lastEpoch = Long.MinValue
    private var totals = Counts(0, 0, 0, 0, 0, 0)
    private var lastUpdate = Option.empty[Long]
    private val windows = mutable.TreeMap.empty[Long, Counts]
    private val geo = mutable.HashMap.empty[(Long, Long), (Int, Long)]
    // the first alert of every cooldown key that may still change or is served
    private val alerts = mutable.HashMap.empty[(String, Double, Double, Option[Long]), Alert]
    private val byTime = Ordering.by((a: Alert) => (a.sec, a.eventId))

    /** Fold one epoch's `DashboardAggs.viewKeys` rows (see
      * [[foldEpoch]]) unless the epoch is at or below the high-water mark.
      * foreachBatch is at-least-once, and while the parquet sinks absorb a
      * retried epoch idempotently (epoch-partitioned overwrite), the fold
      * does not — a retry would count every record twice. Epoch ids are
      * monotone, so "already at or below the high-water mark" = already
      * folded.
      */
    def fold(epochId: Long, rows: Seq[Row]): Unit = synchronized {
      if (epochId > lastEpoch) {
        lastEpoch = epochId
        rows.foreach(merge)
        while (windows.size > cap) windows.remove(windows.firstKey)
        // the cohort window delivers rows in event-time order behind the
        // pipeline's watermark: once a newer bucket fired, no later epoch
        // reaches an older one, whose keys stay only while served
        val served = newest(alerts.values).toSet
        alerts.values.flatMap(_.bucket).maxOption.foreach { b =>
          alerts.filterInPlace { case (_, a) => a.bucket.forall(_ >= b) || served(a) }
        }
      }
    }

    /** Merge one reading: its record joins its priority's buffer, it adds
      * to the totals and its window, raises its geo cell, and is the alert
      * of its cooldown key unless the key already holds an earlier one.
      */
    private def merge(r: Row): Unit = {
      def long(name: String) = Option(r.getAs[java.lang.Long](name)).map(_.longValue)
      val q = if (r.getAs[String]("data_priority") == "critical") critical else normal
      q.addLast(r.getAs[String]("json"))
      if (q.size > cap) q.removeFirst()
      val (cpm, level) = (r.getAs[Int]("cpm"), r.getAs[String]("level"))
      val sec = Option(r.getAs[java.sql.Timestamp]("sec")).map(_.getTime / 1000)
      val c = Counts(1, cpm, if (level == "low") 1 else 0, if (level == "moderate") 1 else 0,
        if (level == "high") 1 else 0, if (r.getAs[Boolean]("critical")) 1 else 0)
      totals += c
      lastUpdate = (lastUpdate ++ sec).maxOption
      long("window_start").foreach(w => windows(w) = windows.get(w).fold(c)(_ + c))
      val cell = (r.getAs[Long]("cell_lat"), r.getAs[Long]("cell_lon"))
      geo(cell) = geo.get(cell).fold((cpm, 1L)) { case (m, n) => (m max cpm, n + 1) }
      Option(r.getAs[String]("alert_severity")).foreach { severity =>
        val a = Alert(r.getAs[String]("event_id"), sec, r.getAs[Double]("lat"),
          r.getAs[Double]("lon"), cpm, severity, long("alert_bucket"))
        val key = (severity, r.getAs[Double]("alert_lat"), r.getAs[Double]("alert_lon"), a.bucket)
        alerts(key) = alerts.get(key).filter(byTime.lteq(_, a)).getOrElse(a)
      }
    }

    def counts: (Int, Int) = synchronized((normal.size, critical.size))
    private[graft] def residentAlerts: Int = synchronized(alerts.size)
    private def newest(as: Iterable[Alert]): Seq[Alert] = as.toSeq.sorted(byTime).takeRight(cap)

    def views: Views = synchronized {
      Views(totals, lastUpdate, windows.toSeq, geo.toSeq.sortBy(_._1), newest(alerts.values))
    }

    /** One JSON document of both buffers (members are already JSON objects). */
    def toJson: String = synchronized {
      import scala.jdk.CollectionConverters._
      s"""{"normal":[${normal.asScala.mkString(",")}],""" +
        s""""critical":[${critical.asScala.mkString(",")}]}"""
    }
  }

  /** The epoch hook: fold one routed micro-batch into the snapshot. Wire
    * it into the pipeline via `RadiationPipeline.run(..., onEpoch = ...)`
    * — it then runs inside the SAME foreachBatch epoch as the sinks, so
    * served records are exactly the delivered ones. Idempotent per epoch
    * ([[Snapshot.fold]]): a foreachBatch retry must not count twice.
    *
    * One projection job collects every delivered reading, keyed for the
    * views and as JSON tagged with `data_priority` exactly like the
    * reference consumer (backend/main.py:91-95); the snapshot keeps the
    * last `cap` records per priority. On the benchmark's epochs this one
    * job costs about what two `limit(cap)` samples did, and less than a
    * sample job beside an aggregate job: alert keys are nearly one per
    * reading, so an aggregate would not shrink the collect much.
    */
  def foldEpoch(r: RadiationPipeline.Routed, snap: Snapshot, epochId: Long): Unit = {
    def tagged(df: DataFrame, priority: String): DataFrame = df.select(col("value").as("cpm"),
      col("level"), col("critical"), col("event_time").as("sec"), col("lat"), col("lon"),
      col("dedup_key").as("event_id"), lit(priority).as("data_priority"), to_json(struct(
        df.columns.map(col) :+ lit(priority).as("data_priority"): _*)).as("json"))
    // one task per core rather than one per cached partition of each route
    val valid = tagged(r.normal, "normal").union(tagged(r.critical, "critical"))
      .coalesce(r.normal.sparkSession.sparkContext.defaultParallelism)
    // collect BEFORE the snapshot claims the epoch: the job is the dominant
    // failure source, and a claim taken first would let a failure drop this
    // epoch for good (the high-water mark skips the foreachBatch retry)
    snap.fold(epochId, DashboardAggs.viewKeys(valid).collect().toSeq)
  }

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val b = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, b.length)
    ex.getResponseBody.write(b)
    ex.close()
  }

  /** Minimal HTTP analog of the reference backend: GET `/api/snapshot`
    * (the poll-side WS stand-in), GET `/api/dashboard` ([[Views.json]])
    * and POST `/api/playback_speed` (backend/main.py:43-50 — updates the
    * shared speed reference and forwards to `onSpeed`, the config-topic
    * publish hook). Port 0 binds an ephemeral port; read it back via
    * `getAddress.getPort`.
    */
  def http(snap: Snapshot, speed: AtomicReference[java.lang.Double],
           port: Int = 0, onSpeed: Double => Unit = _ => ()): HttpServer = {
    val srv = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    srv.createContext("/api/snapshot", (ex: HttpExchange) =>
      respond(ex, 200, snap.toJson))
    srv.createContext("/api/dashboard", (ex: HttpExchange) =>
      respond(ex, 200, snap.views.json))
    srv.createContext("/api/playback_speed", (ex: HttpExchange) => {
      val req = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      """"playback_speed"\s*:\s*([-+0-9.eE]+)""".r.findFirstMatchIn(req)
        .flatMap(m => scala.util.Try(m.group(1).toDouble).toOption) match {
        case Some(v) =>
          speed.set(v)
          onSpeed(v)
          respond(ex, 200, s"""{"playback_speed":$v}""")
        case None =>
          respond(ex, 400, """{"error":"playback_speed required"}""")
      }
    })
    srv.start()
    srv
  }
}
