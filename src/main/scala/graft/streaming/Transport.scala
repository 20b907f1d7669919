package graft.streaming

/** Config-gated transport endpoints for [[RadiationPipeline]] — the
  * reference deployment is Kafka-to-Kafka (source flink_process/
  * flink_process.py:230-236, three sinks py:354-390); the offline sandbox
  * runs files-to-parquet. Selecting a transport swaps ONLY the endpoints:
  * the parse → validate → dedup → cohort → route plan between them is
  * identical, so correctness established on [[Transport.Dir]] carries to
  * [[Transport.Kafka]]. [[RadiationPipeline.source]] and
  * [[RadiationPipeline.run]] consume these.
  */
sealed trait Transport

object Transport {

  /** Kafka endpoints (reference parity: same topic names, and
    * `startingOffsets=latest` matching the reference source's
    * `KafkaOffsetsInitializer.latest()`, flink_process.py:233). A replay or
    * backfill run must pass `startingOffsets = "earliest"` explicitly —
    * the live-tail default silently skips pre-existing records.
    *
    * Delivery-semantics delta, stated precisely: the reference's three
    * `KafkaSink` builders set `set_transactional_id_prefix` WITHOUT
    * `set_delivery_guarantee` (flink_process.py:354-390), so they run on
    * Flink's default `DeliveryGuarantee.NONE` — records can be lost on
    * failover. The Spark writer here is the kafka batch sink inside
    * `foreachBatch`: a retried epoch re-sends its records, i.e.
    * at-least-once — STRONGER than the reference, weaker than the
    * [[Dir]] sink's epoch-overwrite idempotence. Downstream consumers
    * collapse replays on the record key (the dedup key).
    */
  final case class Kafka(
      bootstrapServers: String,
      subscribe: String = "radiation-data",
      normalTopic: String = "normal-data",
      criticalTopic: String = "critical-data",
      dirtyTopic: String = "dirty-data",
      startingOffsets: String = "latest") extends Transport

  /** Offline stand-in (SURVEY §2.1 S3/S6 mapping): a directory of
    * JSON-lines files as the source topic; three epoch-partitioned parquet
    * dirs as the sink topics (idempotent under epoch retry). `outPath` is
    * a local file-system path: the sink moves its epoch directories with
    * [[graft.LocalFs.swapIn]].
    */
  final case class Dir(inPath: String, outPath: String) extends Transport

  /** `readStream.format("kafka")` options for a [[Kafka]] source — pure so
    * the wiring is unit-testable without a broker or the connector jar.
    */
  def kafkaSourceOptions(k: Kafka): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> k.bootstrapServers,
    "subscribe" -> k.subscribe,
    "startingOffsets" -> k.startingOffsets)

  /** `write.format("kafka")` options for a [[Kafka]] sink. No `topic`
    * option: each record goes to the topic in its own `topic` column.
    */
  def kafkaSinkOptions(k: Kafka): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> k.bootstrapServers)

  /** (normal, critical, dirty) sink topic names for a transport. */
  def topicNames(t: Transport): (String, String, String) = t match {
    case k: Kafka => (k.normalTopic, k.criticalTopic, k.dirtyTopic)
    case _: Dir => ("normal-data", "critical-data", "dirty-data")
  }
}
