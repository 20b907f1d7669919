package graft.streaming

import graft.operators.Readings.Thresholds

/** The reference deployment's `config.ini` surface
  * (flink_process/config.ini, read at flink_process.py:196-216) mapped onto
  * the engine's typed parameters — a reference user's existing config file
  * drives this engine unchanged.
  *
  * Fixes the reference's config-key mismatch (SURVEY §2.4 / W7): the file
  * ships `MAX_OUT_OF_ORDERNESS_SECONDS` and `TEMPORAL_WINDOW_SIZE_SECONDS`,
  * but the job reads `WATERMARK_OUT_OF_ORDERNESS_SECONDS` and
  * `TEMPORAL_WINDOW_SECONDS` (flink_process.py:211-212) — so the file's
  * tuning silently never applies there. Here BOTH spellings are accepted,
  * the file's spelling winning when both are present.
  *
  * `GLOBAL_PARALLELISM` and `IDLE_TIMEOUT_MINUTES` are accepted and
  * ignored: Spark sets parallelism per session (the master's cores and
  * `spark.sql.shuffle.partitions`), not per job config.
  *
  * The file sets the endpoints (`transport`) and the plan's thresholds,
  * watermark, cohort window and ENABLE_TEMPORAL_ORDERING gate (`pipeline`);
  * the rest of `pipeline` keeps [[RadiationPipeline.Config]]'s defaults.
  */
final case class GraftConfig(transport: Transport.Kafka, pipeline: RadiationPipeline.Config)

object GraftConfig {

  /** Minimal ini parse: full-line comments (#/;), one [section] ignored
    * (the reference uses only [DEFAULT]), KEY = value pairs, keys
    * case-insensitive like configparser's defaults.
    */
  def parseIni(text: String): Map[String, String] =
    text.linesIterator.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#") && !l.startsWith(";") &&
        !l.startsWith("["))
      .flatMap { l =>
        l.split("=", 2) match {
          case Array(k, v) => Some(k.trim.toUpperCase -> v.trim)
          case _ => None
        }
      }.toMap

  /** Defaults mirror flink_process.py:198-216 exactly. */
  def fromIni(text: String): GraftConfig = {
    val m = parseIni(text)
    def str(k: String, d: String) = m.getOrElse(k, d)
    def int(k: String, d: Int) = m.get(k).map(_.toInt).getOrElse(d)
    def seconds(keys: Seq[String], d: String) =
      keys.collectFirst { case k if m.contains(k) => s"${m(k).toInt} seconds" }.getOrElse(d)
    val job = RadiationPipeline.Config()
    GraftConfig(
      transport = Transport.Kafka(
        bootstrapServers = str("KAFKA_BOOTSTRAP_SERVERS", "localhost:9092"),
        subscribe = str("KAFKA_TOPIC", "radiation-data"),
        normalTopic = str("KAFKA_OUTPUT_TOPIC", "normal-data"),
        criticalTopic = str("KAFKA_CRITICAL_TOPIC", "critical-data"),
        dirtyTopic = str("KAFKA_DIRTY_TOPIC", "dirty-data")),
      pipeline = RadiationPipeline.Config(
        thresholds = Thresholds(
          low = int("LOW_THRESHOLD", 50),
          moderate = int("MODERATE_THRESHOLD", 200),
          danger = m.get("DANGER_THRESHOLD").map(_.toDouble).getOrElse(1000.0)),
        // the file's spelling first, then the spelling the reference job
        // reads, then the job's default
        watermark = seconds(
          Seq("MAX_OUT_OF_ORDERNESS_SECONDS", "WATERMARK_OUT_OF_ORDERNESS_SECONDS"), job.watermark),
        window = seconds(
          Seq("TEMPORAL_WINDOW_SIZE_SECONDS", "TEMPORAL_WINDOW_SECONDS"), job.window),
        annotate = str("ENABLE_TEMPORAL_ORDERING", "true").toLowerCase == "true"))
  }

  def load(path: String): GraftConfig =
    fromIni(java.nio.file.Files.readString(java.nio.file.Path.of(path)))
}

/** The producer side's `config.ini` (data_provider/config.ini, read at
  * data_provider.py:186-204): CSV path, chunk size, and per-record send
  * delay, mapped to the engine's ingest parameters. `SEND_DELAY_MS` is a
  * per-record sleep in the reference, so the replay-rate equivalent is
  * `1000 / delay` rows per second ([[graft.sources.Ingest.rateReplay]]).
  */
final case class IngestConfig(
    csvPath: String, batchSize: Int, sendDelayMs: Int,
    topic: String, bootstrapServers: String) {
  def rowsPerSecond: Int = math.max(1, 1000 / math.max(1, sendDelayMs))
}

object IngestConfig {
  def fromIni(text: String): IngestConfig = {
    val m = GraftConfig.parseIni(text)
    IngestConfig(
      csvPath = m.getOrElse("CSV_FILE_PATH", "measurements.csv"),
      batchSize = m.get("BATCH_SIZE").map(_.toInt).getOrElse(10000),
      sendDelayMs = m.get("SEND_DELAY_MS").map(_.toInt).getOrElse(10),
      topic = m.getOrElse("KAFKA_TOPIC", "radiation-data"),
      bootstrapServers = m.getOrElse("KAFKA_BOOTSTRAP_SERVERS", "localhost:9092"))
  }

  def load(path: String): IngestConfig =
    fromIni(java.nio.file.Files.readString(java.nio.file.Path.of(path)))
}
