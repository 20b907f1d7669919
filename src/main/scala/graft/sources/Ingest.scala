package graft.sources

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.streaming.RadiationPipeline

/** Ingestion-side operators (SURVEY.md §2.1 S1-S4, §2.2 P1-P3, §2.5 A3):
  * the reference's CSV → Kafka producer (`data_provider/data_provider.py`)
  * re-expressed as Spark sources/sinks.
  *
  *  - S1 chunked CSV scan  → schema'd csv reader (splits = the chunking;
  *    at 100 TB the file splits parallelize across executors for free)
  *  - S2 per-chunk sort    → sortWithinPartitions (intra-partition ≈
  *    intra-chunk, no global shuffle — data_provider.py:109-110 is only a
  *    best-effort local ordering too)
  *  - P1 null-row filter   → na.drop("all") (data_provider.py:119-121)
  *  - P2 projection        → canonical lowercase fields + ingestion ts
  *    (data_provider.py:125-132)
  *  - P3 composite key     → ONE shared expression with the Flink-side key
  *    ([[RadiationPipeline.compositeKey]]; the reference duplicates it)
  *  - S3 keyed sink        → key+value columns, any format; offline: parquet
  *  - S4 throttled replay  → rate source joined to the indexed dataset
  *  - A3 running counters  → `Observation` metrics on the ingest pass
  *    (data_provider.py:98-104's total/sent/skipped counters)
  */
object Ingest {

  /** Safecast CSV schema (data_provider.py:109,127-130). */
  val csvSchema: StructType = StructType(Seq(
    StructField("Captured Time", StringType),
    StructField("Latitude", DoubleType),
    StructField("Longitude", DoubleType),
    StructField("Value", DoubleType),
    StructField("Unit", StringType)))

  /** S1+S2+P1+P2+P3: CSV → canonical keyed records, with A3 counters
    * attached to the returned Observation.
    */
  def readCsv(spark: SparkSession, path: String): (DataFrame, Observation) = {
    val obs = Observation("ingest")
    val df = spark.read.schema(csvSchema).option("header", "true").csv(path)
      .sortWithinPartitions(col("Captured Time"))
      .na.drop("all")
      .select(
        col("Captured Time").as("captured_time"),
        col("Latitude").as("latitude"),
        col("Longitude").as("longitude"),
        col("Value").as("value"),
        col("Unit").as("unit"),
        unix_millis(current_timestamp()).as("ingestion_timestamp"))
      .withColumn("key", RadiationPipeline.compositeKey(
        col("latitude"), col("longitude"), col("value"),
        col("captured_time"), col("unit")))
      .observe(obs,
        count(lit(1)).as("total_rows"),
        count(col("value")).as("rows_with_value"),
        sum(coalesce(length(col("captured_time")), lit(0)) + 64).as("approx_bytes"))
    (df, obs)
  }

  /** S3 offline form: keyed JSON-value records (the Kafka producer's
    * key/value shape, data_provider.py:150) written as parquet.
    */
  def writeKeyed(df: DataFrame, path: String): Unit =
    df.select(col("key"),
        to_json(struct(df.columns.filter(_ != "key").map(col): _*)).as("value"))
      .write.mode("overwrite").parquet(path)

  /** S4: throttled replay — the `rate` source emits `rowsPerSecond` ticks;
    * joining tick index to a row-numbered static dataset replays it at a
    * controlled pace (the engine-side version of SEND_DELAY_MS,
    * data_provider.py:154-155, with the speed a real parameter). For the
    * reference's runtime-adjustable speed see [[dynamicRateReplay]] +
    * [[speedListener]].
    */
  def rateReplay(spark: SparkSession, data: DataFrame, rowsPerSecond: Int): DataFrame = {
    // rename the rate source's own (timestamp, value) columns immediately:
    // joining on a bare col("value") is ambiguous the moment the replayed
    // dataset carries a value column of its own (CSV ingest records do)
    val ticks = spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString)
      .load()
      .select(col("value").as("__tick"))
    ticks.join(indexed(data), col("__tick") === col("__idx"))
      .drop("__tick", "__idx")
  }

  /** Index once and cache, staying in Catalyst end to end: a global
    * row_number window would funnel the whole dataset through one task, and
    * the old rdd.zipWithIndex dropped out of the DataFrame API (and codegen)
    * and ran its own per-partition counting job. Instead the global index is
    * assembled range-partition-style: `monotonically_increasing_id` encodes
    * (partition id « 33 | position-in-partition) with contiguous positions,
    * so per-partition row counts (one tiny aggregate, one row per partition)
    * become broadcast cumulative offsets and `__idx = offset + position`.
    * One partition-parallel pass over the data, deterministic in partition
    * order — the same contract zipWithIndex gave, whole-stage-codegen'd.
    */
  private def indexed(data: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val PosBits = 33 // Spark contract: partition id in the upper 31 bits
    // Pin ONE evaluation of the id column before anything consumes it:
    // the offsets aggregate and the join side otherwise each evaluate the
    // subtree independently, and a non-deterministic upstream (round-robin
    // repartition, sample) or a re-evaluation with a different partition
    // layout would silently mis-assign __idx (skipped/duplicated rows).
    val mid = graft.Materialize(data.withColumn("__mid", monotonically_increasing_id()))
    val offsets = mid
      .groupBy(shiftright(col("__mid"), PosBits).as("__pid"))
      .agg(count(lit(1)).as("__n"))
      // cumulative offsets over #partitions rows — a bounded frame, so the
      // single-task window is over partition COUNTS, never the data
      .withColumn("__off",
        coalesce(sum(col("__n")).over(
          Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("__pid", "__off")
    mid.join(broadcast(offsets), shiftright(col("__mid"), PosBits) === col("__pid"))
      .withColumn("__idx",
        col("__off") + col("__mid").bitwiseAND(lit((1L << PosBits) - 1)))
      .drop("__mid", "__pid", "__off")
      .cache()
  }

  /** S4 dynamic form — the reference's playback-speed listener
    * (`listen_for_speed`, data_provider.py:67-84: a config topic updates a
    * global the send loop reads; dead code in the reference's deployment,
    * live here). Tails a config stream of `{"playback_speed": x}` updates
    * and keeps `speed` current; latest update wins, like the reference's
    * consumer loop.
    */
  def speedListener(control: DataFrame,
                    speed: java.util.concurrent.atomic.AtomicReference[java.lang.Double])
      : org.apache.spark.sql.streaming.StreamingQuery =
    control.writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        // a config topic is a trickle — collect is bounded by its volume.
        // Non-numeric / missing values cast to null and are ignored (the
        // reference's listener try/excepts and keeps running,
        // data_provider.py:82-84); "latest wins" within a batch assumes the
        // single-partition config topic the reference uses — across
        // partitions Kafka gives no cross-partition order either.
        val updates = b.select(col("playback_speed").cast("double")).collect()
          .filterNot(_.isNullAt(0))
        if (updates.nonEmpty) speed.set(updates.last.getDouble(0))
        ()
      }
      .start()

  /** S4 dynamic replay: each tick micro-batch releases
    * `ticks × rowsPerSecond × speed() ÷ ticksPerSecond` rows from a cursor
    * over the indexed dataset and hands the slice to `send` (the producer
    * callback — the reference sends to Kafka here). The rate source can't
    * retune `rowsPerSecond` mid-stream, so the ticks are only a clock and
    * the per-batch allocation applies the CURRENT speed — rate changes take
    * effect at the next micro-batch, exactly the reference's granularity
    * (its loop reads the global once per chunk).
    *
    * Delivery contract: the cursor only advances AFTER `send` returns, so a
    * failed epoch retries the same slice — at-least-once, like the
    * reference's producer. The cursor is process-local state (as is the
    * reference's loop position): a query RESTART from a checkpoint replays
    * from row 0 — for exactly-once bounded replay use [[rateReplay]], whose
    * position is the checkpointed tick offset itself.
    */
  def dynamicRateReplay(ticks: DataFrame, data: DataFrame, rowsPerSecond: Int,
                        ticksPerSecond: Int, speed: () => Double,
                        send: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val idx = indexed(data)
    val cursor = new java.util.concurrent.atomic.AtomicLong(0L)
    ticks.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val n = batch.count()
        val toEmit = math.round(n.toDouble * rowsPerSecond * speed() / ticksPerSecond)
        if (toEmit > 0) {
          val start = cursor.get()
          send(idx
            .filter(col("__idx") >= start && col("__idx") < start + toEmit)
            .drop("__idx"))
          // advance only after a successful send: a retried epoch re-sends
          // its slice instead of silently skipping it
          cursor.set(start + toEmit)
        }
        ()
      }
      .start()
  }

  /** Convenience: [[dynamicRateReplay]] clocked by the built-in rate source. */
  def dynamicRateReplay(spark: SparkSession, data: DataFrame, rowsPerSecond: Int,
                        speed: () => Double, send: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val ticksPerSecond = 10
    val ticks = spark.readStream.format("rate")
      .option("rowsPerSecond", ticksPerSecond.toString).load()
      .select(col("value").as("__tick"))
    dynamicRateReplay(ticks, data, rowsPerSecond, ticksPerSecond, speed, send)
  }
}
