package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.operators.Readings
import graft.operators.Readings.Thresholds

/** The reference's Flink job (`flink_process/flink_process.py:184-397`) as a
  * Structured Streaming pipeline over its actual record schema — JSON
  * strings of radiation readings.
  *
  * Dataflow parity (reference → here):
  *  - Kafka source, string values (py:230-236)     → any streaming DataFrame
  *    with a `value: STRING` column (file/rate/memory source in tests; a
  *    kafka `readStream` plugs in unchanged)
  *  - per-operator json.loads (py:111 etc.)        → ONE `from_json` parse
  *  - timestamp normalization (py:56-84)           → [[normalizeTimestamp]]
  *  - composite dedup key (py:248-263)             → [[compositeKey]]
  *  - keyed dedup, unbounded state (py:265-281)    → `dropDuplicates` or
  *    bounded `dropDuplicatesWithinWatermark` (production-sane; SURVEY §7.5)
  *  - validate/enrich (py:93-176)                  → [[validate]]
  *  - 5 s watermark (py:241-243)                   → `withWatermark`
  *  - 1 s cohort window + batch annotation
  *    (py:23-54, 298-316)                          → [[cohortAnnotate]]
  *  - invalid bypass + union (py:318-320)          → [[withCohort]]
  *  - 3-way routing (py:327-351)                   → [[Routed]]
  *  - 3 transactional sinks (py:354-390)           → one `foreachBatch`
  *    writing three outputs per epoch (Spark's cross-sink atomicity delta is
  *    documented in SURVEY §7.5)
  *
  * Spark's watermark has no per-partition idleness (reference's 30 s
  * idleness, py:242) — moot under AvailableNow/file sources, noted for Kafka.
  */
object RadiationPipeline {

  /** Reference ingested-record schema (data_provider/data_provider.py:125-132). */
  val rawSchema: StructType = StructType(Seq(
    StructField("captured_time", StringType),
    StructField("latitude", DoubleType),
    StructField("longitude", DoubleType),
    StructField("value", DoubleType),
    StructField("unit", StringType),
    StructField("ingestion_timestamp", LongType)))

  /** P10: strip timezone / fractional seconds, accept only
    * `yyyy-MM-dd HH:mm:ss`, null on failure (reference py:56-84 returns
    * None → record excluded from event-time windowing).
    */
  def normalizeTimestamp(c: Column): Column =
    try_to_timestamp(substring(regexp_replace(c, "T", " "), 1, 19),
      lit("yyyy-MM-dd HH:mm:ss"))

  /** P3: producer/Flink composite natural key with 0.0 fallbacks
    * (data_provider.py:134-149 ≡ flink_process.py:248-263 — ONE shared
    * expression here instead of two copies).
    *
    * Deliberate format delta: the reference f-strings the output of Python
    * `round(lat, 5)` (shortest-repr, banker's rounding — e.g. `35.6`),
    * while this uses fixed-width `%.5f` (HALF_UP — `35.60000`). The key's
    * equivalence classes match (both collapse to 5 decimal places), but the
    * key STRINGS are not byte-identical with reference-produced Kafka keys —
    * reproduce Python repr formatting if interop with a reference-written
    * topic is ever needed.
    */
  def compositeKey(lat: Column, lon: Column, value: Column, ts: Column, unit: Column): Column =
    concat_ws("|",
      format_string("%.5f", coalesce(lat, lit(0.0))),
      format_string("%.5f", coalesce(lon, lit(0.0))),
      format_string("%.2f", coalesce(value, lit(0.0))),
      coalesce(ts, lit("")),
      coalesce(unit, lit("")))

  /** Parse once: JSON string column → typed columns. Unparseable JSON keeps
    * `raw` and gets null fields → routed invalid (reference py:164-176
    * try/except → dirty).
    */
  def parse(raw: DataFrame): DataFrame =
    raw.select(
      col("value").as("raw"),
      from_json(col("value"), rawSchema).as("r"))
      .select(col("raw"), col("r.*"))

  /** Validate + enrich (P4-P9) on the reference's check order, plus the
    * event-time column and dedup key. Output is the superset schema of the
    * valid record (py:151-160) and invalid record (py:169-176).
    */
  def validate(parsed: DataFrame, t: Thresholds = Thresholds()): DataFrame = {
    // the batch twin's ladder (Readings.Checks); a malformed value routes
    // to dirty instead of killing the query
    val c = Readings.Checks(col("captured_time").isNull || col("latitude").isNull ||
        col("longitude").isNull || col("value").isNull || col("unit").isNull,
      "Missing or invalid fields", col("latitude"), col("longitude"), t)
    parsed.select(
      col("raw"),
      when(c.valid, "valid").otherwise("invalid").as("status"),
      c.error.as("error"),
      col("captured_time").as("timestamp"),
      round(col("latitude"), 5).as("lat"),
      round(col("longitude"), 5).as("lon"),
      c.cpm.as("value"),
      when(c.valid, "cpm").as("unit"),
      c.level.as("level"),
      c.critical.as("critical"),
      normalizeTimestamp(col("captured_time")).as("event_time"),
      compositeKey(col("latitude"), col("longitude"), col("value"),
        col("captured_time"), col("unit")).as("dedup_key"))
  }

  /** The one split both topologies build from: valid rows with a parseable
    * event time go to watermark-bounded state; every other row — invalid
    * records (W5, flink_process.py:318-320) and valid records whose
    * timestamp fails [[normalizeTimestamp]] (W2) — takes the unbounded
    * bypass. An invalid record never meets the watermark, so one with a
    * parseable but late timestamp still reaches dirty-data instead of
    * being dropped as late.
    */
  private def split(validated: DataFrame): (DataFrame, DataFrame) = {
    val timed = col("status") === "valid" && col("event_time").isNotNull
    (validated.filter(timed), validated.filter(!timed))
  }

  /** The timed side's dedup, one watermark definition feeding the dedup
    * state and (in [[windowedPath]]) the cohort window — Spark 4 disallows
    * redefining a watermark mid-plan.
    */
  private def dedupTimed(timed: DataFrame, watermark: String,
                         bounded: Boolean): DataFrame = {
    val marked = timed.withWatermark("event_time", watermark)
    if (bounded) marked.dropDuplicatesWithinWatermark(Seq("dedup_key"))
    else marked.dropDuplicates(Seq("dedup_key"))
  }

  /** D1 streaming form. `bounded=true` uses watermark-bounded state (sane at
    * scale); `bounded=false` reproduces the reference's never-expiring
    * ValueState exactly (grows forever, like flink_process.py:265-277).
    *
    * Ordering note: the reference dedups BEFORE validation; validation here
    * is a stateless row-preserving projection and the key is built from the
    * same raw fields on both sides, so validate→dedup ≡ dedup→validate.
    * Bounded mode delta: the [[split]] bypass (invalid records and rows
    * without a parseable event time) cannot use watermark-bounded state, so
    * it dedups through unbounded `dropDuplicates` — reference-faithful (its
    * ValueState never expires), with state limited to the dirty and
    * malformed-timestamp slice of the stream.
    */
  def dedup(validated: DataFrame, watermark: String = "5 seconds",
            bounded: Boolean = true): DataFrame =
    if (bounded) {
      val (timed, bypass) = split(validated)
      dedupTimed(timed, watermark, bounded)
        .unionByName(bypass.dropDuplicates(Seq("dedup_key")))
    } else
      validated.dropDuplicates(Seq("dedup_key"))

  /** The windowed path of [[run]]: the [[split]]'s timed side, deduped and
    * annotated with its cohort.
    */
  def windowedPath(validated: DataFrame, watermark: String = "5 seconds",
                   bounded: Boolean = true, window_ : String = "1 second"): DataFrame =
    cohortAnnotate(dedupTimed(split(validated)._1, watermark, bounded),
      window_ = window_, setWatermark = false)

  /** W3+W4 streaming form: 1 s tumbling event-time window over the valid
    * stream, each pane re-emitted with `temporal_batch_size` (cohort count),
    * `timestamp_key`, `temporal_ordering` — via windowed
    * `collect_list` + `explode` (fires when the watermark passes, exactly
    * the Flink trigger semantics; late rows are dropped = py's no
    * allowed-lateness).
    */
  def cohortAnnotate(valid: DataFrame, watermark: String = "5 seconds",
                     window_ : String = "1 second",
                     setWatermark: Boolean = true): DataFrame = {
    val cols = valid.columns.toSeq
    val base = valid.filter(col("event_time").isNotNull) // W2: no et → excluded
    val marked = if (setWatermark) base.withWatermark("event_time", watermark) else base
    marked
      .groupBy(window(col("event_time"), window_))
      .agg(count(lit(1)).as("temporal_batch_size"),
           collect_list(struct(cols.map(col): _*)).as("rows"))
      .select(col("window.start").as("window_start"), col("temporal_batch_size"),
        explode(col("rows")).as("r"))
      .select(col("r.*") +: Seq(
        col("temporal_batch_size"),
        date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("timestamp_key"),
        lit("compliant").as("temporal_ordering")): _*)
  }

  /** Valid path through the cohort window; the [[split]] bypass unions
    * back un-annotated on the superset schema (W6).
    *
    * The bypass is deduplicated too: the reference's keyed dedup runs on
    * EVERY record before validation, so duplicate malformed records reach
    * dirty-data once, not twice. The bypass never meets the watermark ⇒
    * unbounded `dropDuplicates` (see the [[dedup]] bounded-mode note).
    * With `annotate = false` the same split feeds [[dedup]].
    */
  def withCohort(validated: DataFrame, watermark: String = "5 seconds",
                 bounded: Boolean = true, window_ : String = "1 second",
                 annotate: Boolean = true): DataFrame = {
    if (!annotate)
      // W7 config gate (ENABLE_TEMPORAL_ORDERING=false): dedup + route with
      // no cohort window at all — annotation columns stay null on every row
      return dedup(validated, watermark, bounded)
        .withColumn("temporal_batch_size", lit(null).cast("long"))
        .withColumn("timestamp_key", lit(null: String))
        .withColumn("temporal_ordering", lit(null: String))
    val annotated = windowedPath(validated, watermark, bounded, window_)
    val bypass = split(validated)._2
      .dropDuplicates(Seq("dedup_key"))
      .withColumn("temporal_batch_size", lit(null).cast("long"))
      .withColumn("timestamp_key", lit(null: String))
      .withColumn("temporal_ordering", lit(null: String))
    annotated.unionByName(bypass)
  }

  /** P11-P13 routing (flink_process.py:327-351) — the one definition, used
    * by the stream's sinks and the batch tier's `e_route_*` queries alike.
    * `status` is never null in either tier ([[validate]] and
    * `Readings.enriched` both derive it from a `when/otherwise`).
    */
  final case class Routed(normal: DataFrame, critical: DataFrame, dirty: DataFrame)
  def route(stream: DataFrame): Routed = Routed(
    normal = stream.filter(col("status") === "valid" && !col("critical")),
    critical = stream.filter(col("status") === "valid" && col("critical")),
    dirty = stream.filter(col("status") === "invalid"))

  /** S5: streaming source of JSON strings for a [[Transport]].
    *
    *  - [[Transport.Kafka]] → `readStream.format("kafka")` with
    *    [[Transport.kafkaSourceOptions]], the record value bytes cast to
    *    string (the reference deserializes with `SimpleStringSchema`,
    *    flink_process.py:235). Requires the kafka connector on the
    *    classpath — plan construction needs no broker.
    *  - [[Transport.Dir]] → a directory of JSON-lines text files, the
    *    offline stand-in (SURVEY §2.1 S5).
    *
    * Both yield the single `value: STRING` column [[parse]] expects, so the
    * plan between source and sinks is transport-independent.
    */
  def source(spark: SparkSession, t: Transport): DataFrame = t match {
    case k: Transport.Kafka =>
      spark.readStream.format("kafka")
        .options(Transport.kafkaSourceOptions(k))
        .load()
        .select(col("value").cast("string").as("value"))
    case d: Transport.Dir =>
      spark.readStream.format("text").load(d.inPath).select(col("value"))
  }

  /** S6: write one routed epoch to the three sink "topics" of a transport.
    *
    *  - [[Transport.Kafka]]: each branch serialized as (key = dedup key,
    *    value = JSON of the enriched record minus `raw`) and sent with the
    *    kafka batch writer (reference sinks flink_process.py:354-390; the
    *    at-least-once retry delta is documented on [[Transport.Kafka]]).
    *  - [[Transport.Dir]]: epoch-partitioned parquet with overwrite, so a
    *    retried epoch clobbers its own partial output — idempotent.
    */
  def writeEpoch(r: Routed, epochId: Long, t: Transport): Unit = {
    val (normalT, criticalT, dirtyT) = Transport.topicNames(t)
    t match {
      case k: Transport.Kafka =>
        def send(df: DataFrame, topic: String): Unit =
          df.select(
              col("dedup_key").cast("string").as("key"),
              to_json(struct(df.columns.filterNot(_ == "raw").map(col): _*)).as("value"))
            .write.format("kafka")
            .options(Transport.kafkaSinkOptions(k, topic))
            .save()
        send(r.normal, normalT)
        send(r.critical, criticalT)
        send(r.dirty, dirtyT)
      case d: Transport.Dir =>
        r.normal.write.mode("overwrite").parquet(s"${d.outPath}/$normalT/epoch=$epochId")
        r.critical.write.mode("overwrite").parquet(s"${d.outPath}/$criticalT/epoch=$epochId")
        r.dirty.write.mode("overwrite").parquet(s"${d.outPath}/$dirtyT/epoch=$epochId")
    }
  }

  /** S7: the reference's debug print sink (flink_process.py:393-394 —
    * `processed_stream.print()`), as Spark's `console` sink. Runs as a
    * SECOND query beside the real sinks (the reference chains .print() onto
    * the same stream; Spark streams fan out as independent queries). No
    * trigger is set, so it tails the stream continuously like print() does.
    */
  def debugConsole(stream: DataFrame, numRows: Int = 20): StreamingQuery =
    stream.writeStream
      .format("console")
      .option("numRows", numRows)
      .option("truncate", value = false)
      .start()

  /** End-to-end over a [[Transport]]: [[source]] → parse → validate → dedup →
    * cohort → route → [[writeEpoch]] per micro-batch (kafka topics or
    * epoch-partitioned parquet), with `onEpoch` run after the sinks in the
    * same epoch. The termination note on the DataFrame overload below
    * applies here too.
    *
    * `trigger`: a [[Transport.Dir]] run is a bounded replay, where
    * `Trigger.AvailableNow()` is exactly right. A Kafka deployment is the
    * reference's CONTINUOUS job (`Trigger.ProcessingTime(0L)`): AvailableNow
    * with the Kafka default `startingOffsets=latest` does nothing and gives
    * no error (start offsets == end target, zero batches, immediate exit).
    * Pair AvailableNow with `startingOffsets = "earliest"` for a bounded
    * Kafka backfill.
    */
  def run(spark: SparkSession, t: Transport, checkpointDir: String,
          thresholds: Thresholds, bounded: Boolean,
          trigger: Trigger,
          onEpoch: (Routed, Long) => Unit): StreamingQuery =
    runRouted(source(spark, t), t, checkpointDir, thresholds, bounded,
      trigger = trigger, onEpoch = onEpoch)

  /** End-to-end driven entirely by a reference `config.ini`
    * ([[GraftConfig]]): topics, thresholds, watermark, cohort window, and
    * the ENABLE_TEMPORAL_ORDERING topology gate all come from the file.
    * `trigger` as on the [[Transport]] overload above.
    */
  def run(spark: SparkSession, cfg: GraftConfig, checkpointDir: String,
          trigger: Trigger): StreamingQuery =
    runRouted(source(spark, cfg.transport), cfg.transport, checkpointDir,
      cfg.thresholds, bounded = true, watermark = cfg.watermark,
      window_ = cfg.temporalWindow, annotate = cfg.temporalOrdering,
      trigger = trigger)

  /** End-to-end: source of JSON strings → parse → validate → dedup → cohort →
    * route → one foreachBatch epoch writing the three outputs as parquet
    * (the offline stand-in for the reference's three Kafka topics —
    * SURVEY §2.1 S6).
    *
    * Bounded-termination delta vs Flink: at end of bounded input Flink
    * advances the watermark to +∞ and flushes every open window; Spark's
    * AvailableNow leaves the watermark at max(event_time) − 5 s, so cohort
    * panes inside the final ~6 s of event time stay in state and are NOT
    * emitted to normal/critical (they appear on the next run over a
    * continuing stream). For a one-shot replay, append a sentinel record
    * later than `last event + watermark + window` if full flush is needed —
    * the tests do exactly this.
    */
  def run(raw: DataFrame, outDir: String, checkpointDir: String,
          t: Thresholds = Thresholds(), bounded: Boolean = true,
          onEpoch: (Routed, Long) => Unit = (_, _) => ()): StreamingQuery =
    runRouted(raw, Transport.Dir(inPath = "", outPath = outDir), checkpointDir, t, bounded,
      onEpoch = onEpoch)

  /** Shared tail of every `run` overload: transforms + one foreachBatch
    * epoch routed through [[writeEpoch]]. foreachBatch is at-least-once —
    * a retried epoch re-runs the body; each transport's writer documents
    * how it absorbs the retry. The epoch's cached batch is released even
    * when a sink throws, so a failed query leaves nothing pinned in the
    * session's cache.
    */
  private def runRouted(raw: DataFrame, t: Transport, checkpointDir: String,
                        thresholds: Thresholds, bounded: Boolean,
                        watermark: String = "5 seconds",
                        window_ : String = "1 second",
                        annotate: Boolean = true,
                        trigger: Trigger = Trigger.AvailableNow(),
                        onEpoch: (Routed, Long) => Unit = (_, _) => ()): StreamingQuery = {
    val finalStream = withCohort(validate(parse(raw), thresholds),
      watermark = watermark, bounded = bounded, window_ = window_,
      annotate = annotate)
    finalStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val routed = route(batch.cache())
        try {
          writeEpoch(routed, epochId, t)
          // serving fold (S9): runs in the SAME epoch as the sinks, so a
          // served snapshot reflects exactly the delivered records — but a
          // dashboard-only hook must never fail sink delivery, so failures
          // log and the stream continues (the hook is idempotent per epoch,
          // see Serve.Snapshot.fold, so a skipped/failed fold is a
          // stale snapshot, not corruption)
          try onEpoch(routed, epochId)
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[serve] epoch $epochId fold failed (snapshot stale): $e")
          }
        } finally batch.unpersist()
        ()
      }
      .start()
  }
}
