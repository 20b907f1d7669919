package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming forms of the dashboard's periodic client-side analytics
  * (SURVEY.md §2.5): the stats reduce the browser runs every 5 s
  * (`front_end/src/hooks/useDatastats.js:12-56`) and the Mapbox cluster
  * aggregation (`MapView.jsx:173-208`), as continuous windowed
  * aggregations over the validated stream.
  *
  * Both are classic streaming group-bys: bounded key cardinality (time
  * window × level, or time window × grid cell), partial aggregation
  * map-side, state bounded by the watermark. `outputMode("update")` gives
  * the dashboard's continuously-refreshing behavior; append emits finalized
  * windows only.
  */
object DashboardStreams {

  /** A2 streaming: per 5-second window — total points, average CPM, level
    * histogram, dangerous count (the browser's `useDatastats` reduce).
    */
  def statsStream(valid: DataFrame, window_ : String = "5 seconds",
                  watermark: String = "5 seconds"): DataFrame =
    valid.withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), window_))
      .agg(
        count(lit(1)).as("total_points"),
        avg(col("value")).as("average_radiation"),
        sum((col("level") === "low").cast("int")).as("n_low"),
        sum((col("level") === "moderate").cast("int")).as("n_moderate"),
        sum((col("level") === "high").cast("int")).as("n_high"),
        sum(col("critical").cast("int")).as("dangerous_points"))
      .select(col("window.start").as("window_start"), col("window.end").as("window_end"),
        col("total_points"), col("average_radiation"),
        col("n_low"), col("n_moderate"), col("n_high"), col("dangerous_points"))

  /** A4 streaming: per-window geo-grid max/count (the cluster `max_cpm`). */
  def geoGridStream(valid: DataFrame, cellDeg: Double = 0.5,
                    window_ : String = "5 seconds",
                    watermark: String = "5 seconds"): DataFrame =
    valid.withWatermark("event_time", watermark)
      .groupBy(
        window(col("event_time"), window_),
        floor(col("lat") / cellDeg).cast("long").as("cell_lat"),
        floor(col("lon") / cellDeg).cast("long").as("cell_lon"))
      .agg(max(col("value")).as("max_cpm"), count(lit(1)).as("n_points"))
      .select(col("window.start").as("window_start"), col("cell_lat"), col("cell_lon"),
        col("max_cpm"), col("n_points"))

  /** Stream-STREAM interval join — the streaming twin of the batch
    * `e_interval` shape (equi-key + bounded time range): every critical
    * alert joined to the SAME 0.5° grid cell's readings in the following
    * `horizon`. Both sides carry watermarks and the range condition is
    * two-sided, so Spark bounds the join state (a one-sided range would
    * buffer a side forever — the stream-stream join correctness rule).
    * Append-mode inner join; state per side ≈ watermark × arrival rate.
    */
  def alertFollowStream(valid: DataFrame, crit: Int = 100,
                        horizon: String = "60 seconds",
                        watermark: String = "2 minutes"): DataFrame = {
    def cell(c: org.apache.spark.sql.Column) = floor(c / 0.5).cast("long")
    val alerts = valid.filter(col("value") >= crit)
      .select(cell(col("lat")).as("a_cell_lat"), cell(col("lon")).as("a_cell_lon"),
        col("event_time").as("alert_time"), col("value").as("alert_cpm"))
      .withWatermark("alert_time", watermark)
    val readings = valid
      .select(cell(col("lat")).as("r_cell_lat"), cell(col("lon")).as("r_cell_lon"),
        col("event_time").as("read_time"), col("value").as("read_cpm"))
      .withWatermark("read_time", watermark)
    alerts.join(readings,
      col("a_cell_lat") === col("r_cell_lat") &&
        col("a_cell_lon") === col("r_cell_lon") &&
        col("read_time") > col("alert_time") &&
        col("read_time") <= col("alert_time") + expr(s"INTERVAL $horizon"))
      .select(col("a_cell_lat").as("cell_lat"), col("a_cell_lon").as("cell_lon"),
        col("alert_time"), col("alert_cpm"), col("read_time"), col("read_cpm"))
  }

  /** A4 streaming, zoom tier: [[graft.operators.DashboardAggs.geoZoom]]'s
    * tile pyramid per event-time window — all zoom levels in ONE stateful
    * aggregation (the zoom explode happens before the agg, so state is one
    * row per (window, zoom, cell), bounded by the pyramid × open windows).
    */
  def geoZoomStream(valid: DataFrame, baseDeg: Double = 4.0, maxZoom: Int = 4,
                    window_ : String = "5 seconds",
                    watermark: String = "5 seconds"): DataFrame =
    valid.withWatermark("event_time", watermark)
      .select(col("event_time"), col("lat"), col("lon"), col("value"),
        explode(array((0 to maxZoom).map(lit): _*)).as("zoom"))
      .withColumn("cell", lit(baseDeg) / expr("cast(shiftleft(1L, zoom) as double)"))
      .groupBy(
        window(col("event_time"), window_),
        col("zoom"),
        floor(col("lat") / col("cell")).cast("long").as("cell_lat"),
        floor(col("lon") / col("cell")).cast("long").as("cell_lon"))
      .agg(max(col("value")).as("max_cpm"), count(lit(1)).as("n_points"))
      .select(col("window.start").as("window_start"), col("zoom"),
        col("cell_lat"), col("cell_lon"), col("max_cpm"), col("n_points"))

  /** Streaming sessionization: Spark's native merging session windows —
    * the streaming tier of [[graft.operators.Sessions]]. Emits one row per
    * closed session (append mode fires when the watermark passes the
    * session gap).
    */
  def sessionStream(valid: DataFrame, gap: String = "30 minutes",
                    watermark: String = "5 seconds"): DataFrame =
    valid.withWatermark("event_time", watermark)
      .groupBy(session_window(col("event_time"), gap), col("user_key"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_cpm"))
      .select(
        col("user_key"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_cpm"))

  /** D4 streaming: the client's rolling "last N points" buffer
    * (MapView.jsx:83-89) — streaming has no native keep-last-N
    * (SURVEY §7.5 "hard parts"), so each epoch folds the new batch into a
    * parquet-backed retention set in `foreachBatch`.
    *
    * State is bounded by construction: the retained set is ≤ n rows, so the
    * per-epoch read-union-truncate is O(n + batch) regardless of stream
    * length — the same contract as the browser's slice(-2000).
    */
  /** `orderCols` must identify a row (end in a unique id): they are both the
    * recency ordering AND the dedup key that makes epoch replays idempotent
    * (foreachBatch is at-least-once — a retried epoch re-folds the same
    * rows). The write goes to a temp dir and is swapped in with a rename so
    * a crash mid-write can't destroy the retained set.
    */
  def lastNRetention(valid: DataFrame, n: Int, outPath: String,
                     checkpointDir: String, orderCols: Seq[String]): StreamingQuery =
    foldIntoView(valid, outPath, checkpointDir) { unioned =>
      unioned
        .dropDuplicates(orderCols) // idempotent under epoch retry
        .orderBy(orderCols.map(c => col(c).desc): _*)
        .limit(n)
    }

  /** D3 composite: the client's "active alerts" panel
    * (useAlertManager.js:50-65) — at most `maxActive` alerts visible, each
    * auto-dismissing on a severity-based TTL (reference: critical 15 s,
    * warning 10 s, else 7 s). The expiry clock is EVENT time (max
    * event_time seen so far), so a replay of the same stream reconstructs
    * the identical view — wall-clock TTL would not. State is ≤ maxActive
    * rows by construction, same contract as [[lastNRetention]].
    *
    * Input must carry `key` (the cooldown key — typically
    * [[AlertCooldown.cooldownKey]]), `severity`, and an `event_time`
    * timestamp.
    */
  def activeAlertsView(alerts: DataFrame, outPath: String, checkpointDir: String,
                       maxActive: Int = 5,
                       ttlSec: Map[String, Int] = Map("critical" -> 15, "warning" -> 10),
                       defaultTtlSec: Int = 7): StreamingQuery =
    foldIntoView(alerts, outPath, checkpointDir) { unioned =>
      val rows = unioned.dropDuplicates(Seq("key", "event_time"))
      val horizon = rows.agg(max(col("event_time"))).head().getTimestamp(0)
      val ttlMs = ttlSec.foldLeft(lit(defaultTtlSec * 1000L)) {
        case (acc, (sev, s)) => when(col("severity") === sev, s * 1000L).otherwise(acc)
      }
      val active =
        if (horizon == null) rows
        else rows.filter(unix_millis(col("event_time")) >= lit(horizon.getTime) - ttlMs)
      active.orderBy(col("event_time").desc, col("key")).limit(maxActive)
    }

  /** Shared epoch fold for the bounded client-side views: read the current
    * view, union the new batch onto it (column-aligned), let `fold` reduce
    * the union to the next (small, ≤ cap rows) view, and swap it in
    * crash-safely. foreachBatch is at-least-once — `fold` must be
    * idempotent under replay (both callers dedup on their identity columns).
    */
  private def foldIntoView(stream: DataFrame, outPath: String, checkpointDir: String)
                          (fold: DataFrame => DataFrame): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // a crash mid-swap leaves only `.old`: restore it before reading so
        // the retained set is never lost
        graft.LocalFs.restoreAside(outPath)
        val unioned =
          if (new java.io.File(outPath).exists()) {
            val e = spark.read.parquet(outPath)
            e.unionByName(batch.select(e.columns.map(col): _*))
          } else batch
        val next = fold(unioned)
        // bounded by the caller's cap — the retention cap IS the memory bound
        val retained = next.collect()
        val out = spark.createDataFrame(
          spark.sparkContext.parallelize(retained.toSeq, 1), next.schema)
        val tmp = outPath + ".tmp"
        out.write.mode("overwrite").parquet(tmp)
        graft.LocalFs.swapIn(tmp, outPath)
      }
      .start()
}
