package graft

import java.nio.file.Files

import graft.streaming.{GraftConfig, RadiationPipeline, Transport}
import graft.testkit.FakeKafka

/** config.ini parity (flink_process/config.ini read at
  * flink_process.py:196-216), including the fix for the reference's
  * config-key mismatch: the file ships MAX_OUT_OF_ORDERNESS_SECONDS /
  * TEMPORAL_WINDOW_SIZE_SECONDS but the job reads different key names, so
  * the file's values silently never apply there. Here both spellings work.
  */
class GraftConfigSpec extends SparkSuite {

  // the reference's shipped config.ini, keys and values verbatim
  private val referenceIni =
    """[DEFAULT]
      |# Kafka Configuration
      |KAFKA_TOPIC = radiation-data
      |KAFKA_BOOTSTRAP_SERVERS = kafka:9092
      |KAFKA_OUTPUT_TOPIC = normal-data
      |KAFKA_DIRTY_TOPIC = dirty-data
      |KAFKA_CRITICAL_TOPIC = critical-data
      |DANGER_THRESHOLD = 1000.0
      |LOW_THRESHOLD = 50
      |MODERATE_THRESHOLD = 200
      |GLOBAL_PARALLELISM = 4
      |MAX_OUT_OF_ORDERNESS_SECONDS = 10
      |IDLE_TIMEOUT_MINUTES = 1
      |ENABLE_TEMPORAL_ORDERING = true
      |TEMPORAL_WINDOW_SIZE_SECONDS = 1
      |""".stripMargin

  test("parses the reference's shipped config.ini verbatim") {
    val cfg = GraftConfig.fromIni(referenceIni)
    assert(cfg.transport == Transport.Kafka("kafka:9092"))
    val p = cfg.pipeline
    assert(p.thresholds.low == 50 && p.thresholds.moderate == 200 &&
      p.thresholds.danger == 1000.0)
    // the file's spelling applies — in the reference it silently doesn't
    // (the job reads WATERMARK_OUT_OF_ORDERNESS_SECONDS, default 5)
    assert(p.watermark == "10 seconds")
    assert(p.window == "1 seconds" && p.annotate && p.bounded)
  }

  test("defaults mirror the job's defaults; the job's key spelling also works") {
    val empty = GraftConfig.fromIni("")
    val job = RadiationPipeline.Config()
    assert(empty.pipeline.watermark == job.watermark && empty.pipeline.window == job.window)
    assert(job.watermark == "5 seconds" && job.window == "1 second")
    assert(empty.pipeline.thresholds == graft.operators.Readings.Thresholds())
    assert(empty.pipeline.annotate && empty.pipeline.bounded)
    val jobSpelling = GraftConfig.fromIni(
      "WATERMARK_OUT_OF_ORDERNESS_SECONDS = 7\nTEMPORAL_WINDOW_SECONDS = 2")
    assert(jobSpelling.pipeline.watermark == "7 seconds" &&
      jobSpelling.pipeline.window == "2 seconds")
    // file spelling wins when both are present
    val both = GraftConfig.fromIni(
      "MAX_OUT_OF_ORDERNESS_SECONDS = 10\nWATERMARK_OUT_OF_ORDERNESS_SECONDS = 7")
    assert(both.pipeline.watermark == "10 seconds")
  }

  test("producer config.ini maps SEND_DELAY_MS to a replay rate") {
    val cfg = graft.streaming.IngestConfig.fromIni(
      """CSV_FILE_PATH = /data/measurements-out.csv
        |BATCH_SIZE = 50000
        |SEND_DELAY_MS = 1
        |KAFKA_TOPIC = radiation-data
        |KAFKA_BOOTSTRAP_SERVERS = kafka:9092
        |""".stripMargin)
    assert(cfg.csvPath == "/data/measurements-out.csv")
    assert(cfg.batchSize == 50000)
    assert(cfg.rowsPerSecond == 1000) // 1 ms per record = 1000 rec/s
    assert(graft.streaming.IngestConfig.fromIni("").sendDelayMs == 10)
  }

  test("config-driven pipeline run: topics and thresholds come from the file") {
    FakeKafka.reset()
    val ini =
      """KAFKA_BOOTSTRAP_SERVERS = broker:9092
        |KAFKA_OUTPUT_TOPIC = clean
        |KAFKA_CRITICAL_TOPIC = hot
        |KAFKA_DIRTY_TOPIC = bad
        |DANGER_THRESHOLD = 100.0
        |ENABLE_TEMPORAL_ORDERING = false
        |""".stripMargin
    val path = Files.createTempFile("graft-cfg", ".ini")
    Files.writeString(path, ini)
    val cfg = GraftConfig.load(path.toString)
    def rec(ct: String, v: Double): String =
      s"""{"captured_time": "$ct", "latitude": 35.6, "longitude": 139.7, "value": $v, "unit": "cpm", "ingestion_timestamp": 1}"""
    FakeKafka.seed("radiation-data",
      rec("2011-03-15 10:00:00", 42),    // below the file's 100.0 danger → clean
      rec("2011-03-15 10:00:01", 500))   // above → hot
    val ckpt = Files.createTempDirectory("graft-cfg-ckpt").toString
    val q = RadiationPipeline.run(spark, cfg, ckpt,
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination()
    val byTopic = FakeKafka.sentByTopic
    // temporal ordering disabled → no window holds records back: both
    // arrive despite no sentinel pushing the watermark
    assert(byTopic.getOrElse("clean", Nil).size == 1)
    assert(byTopic.getOrElse("hot", Nil).size == 1)
    assert(!byTopic.contains("normal-data"))
  }
}
