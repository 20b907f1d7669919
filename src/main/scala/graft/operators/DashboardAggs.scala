package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The dashboard's client-side analytics (SURVEY.md §2.5 A2/A4/A5 and §2.3
  * D2-D4), promoted from JavaScript reduce-loops to distributed aggregates.
  *
  * References (into /root/reference/):
  *  - level histogram + mean:  front_end/src/hooks/useDatastats.js:12-56
  *  - geo-cluster max/count:   front_end/src/components/MapView.jsx:173-208
  *  - alert severity:          front_end/src/hooks/useWebsocket.js:59-73
  *  - alert cooldown dedup:    front_end/src/hooks/useAlertManager.js:12-29
  *  - last-2000-point buffer:  front_end/src/components/MapView.jsx:83-89
  */
object DashboardAggs {

  /** A2: single-row stats — counts per level (the client merges very-high →
    * high and very-low → low; with the engine's 3-bucket scale the merge is
    * the identity), mean radiation, dangerous count, last update.
    * `avg` over int cpm = exact integer sum / count → bit-identical across
    * engines before rounding.
    */
  def stats(valid: DataFrame): DataFrame =
    valid.agg(
      count(lit(1)).as("total_points"),
      round(avg(col("cpm")), 4).as("average_radiation"),
      sum((col("level") === "low").cast("int")).as("n_low"),
      sum((col("level") === "moderate").cast("int")).as("n_moderate"),
      sum((col("level") === "high").cast("int")).as("n_high"),
      sum(col("critical").cast("int")).as("dangerous_points"),
      max(col("sec")).as("last_update")
    )

  /** Numeric histogram of the radiation value: integer-width buckets via
    * `cpm DIV width` — pure integer arithmetic, so bucket edges are exact
    * on every engine (no float floor at a representation boundary). One
    * map-side-combined hash agg; bucket cardinality bounded by the value
    * range, scale-safe like [[geoGrid]].
    */
  def valueHistogram(valid: DataFrame, width: Int = 50): DataFrame =
    valid.groupBy(expr(s"cpm div $width").cast("int").as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("cpm")).as("min_cpm"), max(col("cpm")).as("max_cpm"))
      .orderBy(col("bucket"))

  /** A4: geo-grid aggregation — the distributed analog of Mapbox's
    * supercluster `max_cpm` clusterProperty (MapView.jsx:180-183). Grid
    * cell = floor(coord / cellDeg). One hash-shuffle on the cell key;
    * cardinality is bounded by the grid (scale-safe at any data size).
    */
  def geoGrid(valid: DataFrame, cellDeg: Double = 0.5): DataFrame =
    valid.groupBy(gridCell(col("lat"), lit(cellDeg)).as("cell_lat"),
        gridCell(col("lon"), lit(cellDeg)).as("cell_lon"))
      .agg(max(col("cpm")).as("max_cpm"), count(lit(1)).as("n_points"))

  /** The grid cell of a coordinate, `floor(coord / size)` — the one
    * definition behind [[geoGrid]], [[geoZoom]] and the served geo view.
    */
  def gridCell(coord: Column, size: Column): Column = floor(coord / size).cast("long")

  /** A4, the ZOOM half: the reference clusters with a zoom-dependent
    * radius (supercluster, MapView.jsx:173-208 — radius shrinks as 2^zoom
    * grows), re-expressed as the standard map-tile pyramid: one grid
    * aggregate per zoom level with cell = base / 2^zoom. Base and all cell
    * sizes are powers of two, so `lat / cell` is exact double SCALING (no
    * rounding) and the floor lands identically on every engine — the same
    * parity rule as [[geoGrid]].
    *
    * Scale shape: the zoom explode multiplies rows BEFORE the hash agg but
    * the map-side combine collapses them per (zoom, cell) immediately;
    * output cardinality is bounded by the tile pyramid, not the data. One
    * shuffle for all levels together — a per-zoom loop would pay one scan
    * and one shuffle per level.
    */
  def geoZoom(valid: DataFrame, baseDeg: Double = 4.0, maxZoom: Int = 4): DataFrame = {
    require(baseDeg > 0 && (java.lang.Double.doubleToRawLongBits(baseDeg) &
      0x000fffffffffffffL) == 0, s"baseDeg $baseDeg must be a power of two")
    require(maxZoom >= 0 && maxZoom <= 20, s"maxZoom $maxZoom outside [0, 20]")
    // (r21 audit, kept as-is: a finest-level-aggregate-then-rollup pyramid
    // was prototyped and REJECTED — with partial aggregation the explode's
    // shuffle is already cell-bounded (the map side combines per
    // (zoom, cell) before the exchange), so the rollup only trades the 5×
    // map-side-agg CPU for four extra per-level exchanges; it measured at
    // parity locally (1.24 vs 1.20 s median-of-5) and breaks the
    // PlanAuditSpec one-exchange pin that encodes exactly this reasoning.)
    valid
      .select(col("lat"), col("lon"), col("cpm"),
        explode(array((0 to maxZoom).map(lit): _*)).as("zoom"))
      // 2^zoom as an integer shift — exact, unlike float pow()
      .withColumn("cell", lit(baseDeg) / expr("cast(shiftleft(1L, zoom) as double)"))
      .groupBy(col("zoom"),
        gridCell(col("lat"), col("cell")).as("cell_lat"),
        gridCell(col("lon"), col("cell")).as("cell_lon"))
      .agg(max(col("cpm")).as("max_cpm"), count(lit(1)).as("n_points"))
  }

  /** A5 + D2: alert derivation with cooldown dedup.
    *
    * Severity per useWebsocket.js:59-73 (≥100 critical / ≥50 warning; below
    * that no alert fires). Cooldown: the client suppresses repeats of the
    * same (severity, lat@3dp, lon@3dp) key within 30 s
    * (useAlertManager.js:12-29); the deterministic batch analog keeps the
    * first alert per key per 30-second event-time bucket.
    */
  def alerts(valid: DataFrame, warn: Int = 50, crit: Int = 100, cooldownSec: Int = 30): DataFrame = {
    val fired = valid.filter(col("cpm") >= warn)
      .withColumn("severity", severity(crit))
      .withColumn("cooldown_bucket", cooldownBucket(cooldownSec))
    Dedup.keepFirst(fired, alertKey, Seq(col("sec"), col("event_id")))
      .select("event_id", "sec", "lat", "lon", "cpm", "severity", "cooldown_bucket")
  }

  /** The alert rule's columns, one definition for [[alerts]] and
    * [[viewKeys]]: the severity of a row at or above `warn`, its 30-second
    * event-time bucket, and the cooldown key over both.
    */
  def severity(crit: Int): Column = when(col("cpm") >= crit, "critical").otherwise("warning")
  def cooldownBucket(cooldownSec: Int): Column =
    floor(unix_timestamp(col("sec")) / cooldownSec).cast("long")
  val alertKey: Seq[Column] =
    Seq(col("severity"), round(col("lat"), 3), round(col("lon"), 3), col("cooldown_bucket"))

  /** Each valid row keyed for the served dashboard views, at the batch
    * twins' default parameters: its 5-second `window_start` (epoch
    * seconds), its [[geoGrid]] cell, and, when it fires, its [[alerts]]
    * cooldown key (the `alert_*` columns, null below 50 cpm). One row is
    * the partial of one reading, and every view merges partials
    * associatively (counts add, maxima take the larger, a key keeps its
    * earliest alert), so epochs fold into the views one at a time.
    */
  def viewKeys(valid: DataFrame): DataFrame = {
    val keys = Seq("window_start" -> expr("unix_timestamp(sec) div 5 * 5"),
      "cell_lat" -> gridCell(col("lat"), lit(0.5)), "cell_lon" -> gridCell(col("lon"), lit(0.5))) ++
      Seq("alert_severity", "alert_lat", "alert_lon", "alert_bucket")
        .zip(alertKey.map(when(col("cpm") >= 50, _)))
    valid.withColumns(Map("severity" -> severity(100), "cooldown_bucket" -> cooldownBucket(30)))
      .select(col("*") +: keys.map { case (name, c) => c.as(name) }: _*)
  }

  /** D4: keep-last-N retention (the client's rolling 2000-point buffer).
    * Deterministic ordering: second-truncated event time desc, then id desc.
    * Scale note: global top-N = per-partition top-N + single reduce — Spark
    * implements orderBy.limit as TakeOrderedAndProject (no full sort).
    */
  def lastN(valid: DataFrame, n: Int = 2000): DataFrame =
    valid.orderBy(col("sec").desc, col("event_id").desc)
      .limit(n)
      .select("event_id", "sec", "user_id", "cpm", "level")

  /** A3: ingestion running counters as per-key cumulative window aggregates
    * (the engine-side analog of data_provider.py:98-104's running totals).
    * Frame is ROWS-based and the order key ends in the unique event_id, so
    * the float accumulation order is fully deterministic.
    */
  def runningCounters(valid: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    valid.select(
      col("user_id"), col("sec"), col("event_id"),
      count(lit(1)).over(w).as("running_n"),
      sum(col("cpm")).over(w).as("running_cpm")
    )
  }
}
