package graft.streaming

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.LocalFs
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
  *  - keyed dedup, unbounded state (py:265-281)    → [[withCohort]]:
  *    `dropDuplicates` or bounded `dropDuplicatesWithinWatermark`
  *    (production-sane; SURVEY §7.5)
  *  - validate/enrich (py:93-176)                  → [[validate]]
  *  - 5 s watermark (py:241-243)                   → `withWatermark` in
  *    [[withCohort]]
  *  - config.ini (py:196-216)                      → [[Config]], built from
  *    the file by [[GraftConfig]]
  *  - 1 s cohort window + batch annotation
  *    (py:23-54, 298-316)                          → [[withCohort]]
  *  - invalid bypass + union (py:318-320)          → [[withCohort]]
  *  - 3-way routing (py:327-351)                   → [[Routed]]
  *  - 3 transactional sinks (py:354-390)           → one `foreachBatch`
  *    that writes the three outputs of an epoch in one Spark job, each row
  *    tagged with its topic by [[topicOf]] (Spark's cross-sink atomicity
  *    delta is documented in SURVEY §7.5)
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

  /** The pipeline's settings, one per knob of the reference's `config.ini`
    * (flink_process.py:196-216) plus the engine's own: `bounded` picks the
    * timed side's dedup state (see [[withCohort]]), `watermark` is the
    * allowed out-of-orderness (py:241-243), `window` the cohort window
    * (py:298-316), `annotate` the ENABLE_TEMPORAL_ORDERING gate (W7),
    * `trigger` as on the [[Transport]] overload of [[run]], and `onEpoch`
    * runs after the sinks in the same epoch. [[GraftConfig]] builds one
    * from a config file.
    */
  final case class Config(
      thresholds: Thresholds = Thresholds(),
      bounded: Boolean = true,
      watermark: String = "5 seconds",
      window: String = "1 second",
      annotate: Boolean = true,
      trigger: Trigger = Trigger.AvailableNow(),
      onEpoch: (Routed, Long) => Unit = (_, _) => ())

  /** The plan between [[validate]] and the sinks: dedup, cohort window and
    * the bypass union.
    *
    * One split: valid rows with a parseable event time go to
    * watermark-bounded state; every other row — invalid records (W5,
    * flink_process.py:318-320) and valid records whose timestamp fails
    * [[normalizeTimestamp]] (W2) — takes the bypass. An invalid record
    * never meets the watermark, so one with a parseable but late timestamp
    * still reaches dirty-data instead of being dropped as late.
    *
    * D1 dedup, on both sides: the reference's keyed dedup runs on EVERY
    * record before validation, so duplicate malformed records reach
    * dirty-data once, not twice. The timed side carries the one watermark
    * definition, which feeds its dedup state and the cohort window (Spark 4
    * disallows redefining a watermark mid-plan). `bounded = true` dedups it
    * within the watermark (sane at scale); `bounded = false` reproduces the
    * reference's never-expiring ValueState (grows forever, like
    * flink_process.py:265-277). Either way the timed side drops a row
    * behind the watermark as late, with or without the cohort window. The
    * bypass cannot use watermark-bounded state, so it always dedups
    * through unbounded `dropDuplicates` — reference-faithful, with state
    * limited to the dirty and malformed-timestamp slice of the stream.
    * Ordering note: validation is a stateless row-preserving projection
    * and the key is built from the same raw fields on both sides, so
    * validate→dedup ≡ dedup→validate.
    *
    * W3+W4 cohort window: a tumbling event-time window over the timed side,
    * each pane re-emitted with `temporal_batch_size` (cohort count),
    * `timestamp_key` and `temporal_ordering` — via windowed `collect_list`
    * + `explode` (fires when the watermark passes, exactly the Flink
    * trigger semantics; late rows are dropped = py's no allowed-lateness).
    * The bypass unions back un-annotated on the superset schema (W6). With
    * `annotate = false` (ENABLE_TEMPORAL_ORDERING=false) there is no
    * cohort window at all: the annotation columns stay null on every row.
    */
  def withCohort(validated: DataFrame, config: Config = Config()): DataFrame = {
    val timed = col("status") === "valid" && col("event_time").isNotNull
    val marked = validated.filter(timed).withWatermark("event_time", config.watermark)
    val deduped =
      if (config.bounded) marked.dropDuplicatesWithinWatermark(Seq("dedup_key"))
      else marked.dropDuplicates(Seq("dedup_key"))
    val bypass = validated.filter(!timed).dropDuplicates(Seq("dedup_key"))
    def unannotated(df: DataFrame): DataFrame = df
      .withColumn("temporal_batch_size", lit(null).cast("long"))
      .withColumn("timestamp_key", lit(null: String))
      .withColumn("temporal_ordering", lit(null: String))
    if (!config.annotate) unannotated(deduped.unionByName(bypass))
    else deduped
      .filter(col("event_time").isNotNull) // already so; kept for the plan's shape
      .groupBy(window(col("event_time"), config.window))
      .agg(count(lit(1)).as("temporal_batch_size"),
           collect_list(struct(deduped.columns.toSeq.map(col): _*)).as("rows"))
      .select(col("window.start").as("window_start"), col("temporal_batch_size"),
        explode(col("rows")).as("r"))
      .select(col("r.*") +: Seq(
        col("temporal_batch_size"),
        date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("timestamp_key"),
        lit("compliant").as("temporal_ordering")): _*)
      .unionByName(unannotated(bypass))
  }

  /** P11-P13 routing (flink_process.py:327-351) — the one definition, used
    * by the stream's sinks ([[topicOf]]) and the batch tier's `e_route_*`
    * queries ([[route]]) alike: the (normal, critical, dirty) predicates.
    * They are disjoint and every row meets one: `status` is never null in
    * either tier ([[validate]] and `Readings.enriched` both derive it from a
    * `when/otherwise`), and `critical` is non-null on every valid row.
    */
  private def routes: (Column, Column, Column) = (
    col("status") === "valid" && !col("critical"),
    col("status") === "valid" && col("critical"),
    col("status") === "invalid")

  final case class Routed(normal: DataFrame, critical: DataFrame, dirty: DataFrame)
  def route(stream: DataFrame): Routed = {
    val (normal, critical, dirty) = routes
    Routed(stream.filter(normal), stream.filter(critical), stream.filter(dirty))
  }

  /** Each row's sink topic on transport `t`, by [[route]]'s rule. */
  private[graft] def topicOf(t: Transport): Column = {
    val (normal, critical, dirty) = routes
    val (normalT, criticalT, dirtyT) = Transport.topicNames(t)
    when(normal, normalT).when(critical, criticalT).when(dirty, dirtyT)
  }

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

  /** S6: write one epoch's batch to the three sink "topics" of a transport
    * in one Spark job: each row is tagged with its topic by [[topicOf]] and
    * the batch is written once. Cache `batch` when it is read again
    * afterwards, as [[start]]'s serving fold does.
    *
    *  - [[Transport.Kafka]]: one send of (key = dedup key, value = JSON of
    *    the enriched record minus `raw`, topic = the tag); the kafka batch
    *    writer routes each record by its `topic` column (reference sinks
    *    flink_process.py:354-390; the at-least-once retry delta is
    *    documented on [[Transport.Kafka]]).
    *  - [[Transport.Dir]]: one parquet write partitioned by the tag into
    *    `<out>/_staging/epoch=N` (hidden from readers of `<out>` by its `_`),
    *    then each topic's part replaces `<out>/<topic>/epoch=N` through
    *    [[LocalFs.swapIn]]; a topic without rows gets an empty `epoch=N`.
    *    Every topic's epoch directory is replaced, so a retried epoch
    *    clobbers its own partial output — idempotent.
    */
  def writeEpoch(batch: DataFrame, epochId: Long, t: Transport): Unit = {
    val tagged = batch.withColumn("topic", topicOf(t))
    t match {
      case k: Transport.Kafka =>
        tagged.select(
            col("dedup_key").cast("string").as("key"),
            to_json(struct(batch.columns.filterNot(_ == "raw").map(col): _*)).as("value"),
            col("topic"))
          .write.format("kafka")
          .options(Transport.kafkaSinkOptions(k))
          .save()
      case d: Transport.Dir =>
        val staging = new File(s"${d.outPath}/_staging/epoch=$epochId")
        val (normalT, criticalT, dirtyT) = Transport.topicNames(d)
        try {
          tagged.write.mode("overwrite").partitionBy("topic").parquet(staging.getPath)
          for (topic <- Seq(normalT, criticalT, dirtyT)) {
            val part = new File(staging, s"topic=$topic")
            part.mkdirs() // none if the epoch has no rows for the topic
            val dest = new File(s"${d.outPath}/$topic/epoch=$epochId")
            dest.getParentFile.mkdirs()
            LocalFs.swapIn(part.getPath, dest.getPath)
          }
        } finally LocalFs.rmrf(staging)
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
    start(source(spark, t), t, checkpointDir, Config(thresholds, bounded,
      trigger = trigger, onEpoch = onEpoch))

  /** End-to-end driven entirely by a reference `config.ini`
    * ([[GraftConfig]]): topics, thresholds, watermark, cohort window, and
    * the ENABLE_TEMPORAL_ORDERING topology gate all come from the file.
    * `trigger` as on the [[Transport]] overload above.
    */
  def run(spark: SparkSession, cfg: GraftConfig, checkpointDir: String,
          trigger: Trigger): StreamingQuery =
    start(source(spark, cfg.transport), cfg.transport, checkpointDir,
      cfg.pipeline.copy(trigger = trigger))

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
    start(raw, Transport.Dir(inPath = "", outPath = outDir), checkpointDir,
      Config(t, bounded, onEpoch = onEpoch))

  /** Shared tail of every `run` overload: [[withCohort]] under `config` +
    * one foreachBatch epoch routed through [[writeEpoch]]. foreachBatch is
    * at-least-once — a retried epoch re-runs the body; each transport's
    * writer documents how it absorbs the retry. The epoch's cached batch is
    * released even when a sink throws, so a failed query leaves nothing
    * pinned in the session's cache.
    */
  private def start(raw: DataFrame, t: Transport, checkpointDir: String,
                    config: Config): StreamingQuery = {
    val finalStream = withCohort(validate(parse(raw), config.thresholds), config)
    LocalFs.startStream(finalStream, checkpointDir)(_.trigger(config.trigger)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val cached = batch.cache()
        try {
          writeEpoch(cached, epochId, t)
          // serving fold (S9): runs in the SAME epoch as the sinks, so a
          // served snapshot reflects exactly the delivered records — but a
          // dashboard-only hook must never fail sink delivery, so failures
          // log and the stream continues (the hook is idempotent per epoch,
          // see Serve.Snapshot.fold, so a skipped/failed fold is a
          // stale snapshot, not corruption)
          try config.onEpoch(route(cached), epochId)
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[serve] epoch $epochId fold failed (snapshot stale): $e")
          }
        } finally batch.unpersist()
        ()
      })
  }
}
