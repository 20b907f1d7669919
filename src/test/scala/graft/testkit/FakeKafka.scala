package graft.testkit

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Test-only in-memory stand-in for the Kafka connector, registered under the
  * SAME short name (`"kafka"`, via META-INF/services) the real connector
  * uses. The sandbox has no spark-sql-kafka jar and no broker, so this is
  * what lets the production `format("kafka")` code paths in
  * [[graft.streaming.RadiationPipeline.source]] / `writeEpoch` be exercised
  * verbatim — plan construction AND end-to-end execution — without either.
  * Test scope only: production classpaths resolve `"kafka"` to the real
  * connector instead.
  *
  *  - Source: DSv2 `MicroBatchStream` over [[FakeKafka.seed]]ed records,
  *    exposing the real connector's 7-column schema.
  *  - Sink: the real connector's batch write is a V1
  *    `CreatableRelationProvider` (and `"kafka"` sits in the default
  *    `spark.sql.sources.useV1SourceList`), so the fake implements the same
  *    interface and captures (topic, key, value) into [[FakeKafka.sent]].
  */
object FakeKafka {

  /** The kafka source schema, per the real connector's contract. */
  val sourceSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  /** Records the fake source serves, in offset order. */
  private val sourceRecords = new java.util.concurrent.CopyOnWriteArrayList[(String, String)]()

  /** Records captured by the fake sink: (topic, key, value). */
  val sent = new ConcurrentLinkedQueue[(String, String, String)]()

  def seed(topic: String, values: String*): Unit =
    values.foreach(v => sourceRecords.add((topic, v)))

  /** A topic whose next non-empty send fails once, as a broker outage in
    * the middle of an epoch would.
    */
  @volatile private[testkit] var outageTopic: Option[String] = None
  def outageOn(topic: String): Unit = outageTopic = Some(topic)

  def reset(): Unit = { sourceRecords.clear(); sent.clear(); outageTopic = None }

  def sentByTopic: Map[String, Seq[(String, String)]] =
    sent.asScala.toSeq.groupBy(_._1).map { case (t, xs) => t -> xs.map(x => (x._2, x._3)) }

  private[testkit] def recordCount: Long = sourceRecords.size.toLong

  private[testkit] def row(i: Int): InternalRow = {
    val (topic, value) = sourceRecords.get(i)
    new GenericInternalRow(Array[Any](
      null, value.getBytes("UTF-8"), UTF8String.fromString(topic),
      0, i.toLong, 0L, 0))
  }
}

private case class FakeOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

private case class FakeRange(start: Long, end: Long) extends InputPartition

class FakeKafkaProvider extends TableProvider with CreatableRelationProvider
    with DataSourceRegister {
  override def shortName(): String = "kafka"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FakeKafka.sourceSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new FakeKafkaTable

  // the batch-sink path: capture instead of producing to a broker
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val topic = parameters.getOrElse("topic", "")
    if (FakeKafka.outageTopic.contains(topic) && !data.isEmpty) {
      FakeKafka.outageTopic = None
      throw new java.io.IOException("fake broker outage")
    }
    data.selectExpr("CAST(key AS STRING)", "CAST(value AS STRING)").collect()
      .foreach(r => FakeKafka.sent.add((topic, r.getString(0), r.getString(1))))
    val ctx = sqlContext
    val outSchema = data.schema
    new BaseRelation {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = outSchema
    }
  }
}

class FakeKafkaTable extends Table with SupportsRead {
  override def name(): String = "fake-kafka"
  override def schema(): StructType = FakeKafka.sourceSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = FakeKafka.sourceSchema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new FakeKafkaStream
      }
    }
}

/** Implements SupportsTriggerAvailableNow like the real kafka source, so
  * `Trigger.AvailableNow` runs real multi-batch execution (including the
  * no-data batches that advance the watermark and flush window state)
  * instead of the degraded single-batch fallback.
  */
class FakeKafkaStream extends MicroBatchStream with SupportsTriggerAvailableNow {
  private var target: Long = 0L
  override def prepareForTriggerAvailableNow(): Unit = { target = FakeKafka.recordCount }
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = FakeOffset(target)
  override def reportLatestOffset(): Offset = FakeOffset(FakeKafka.recordCount)

  override def initialOffset(): Offset = FakeOffset(0L)
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("admission-control latestOffset is used")
  override def deserializeOffset(json: String): Offset = FakeOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[FakeOffset].n, end.asInstanceOf[FakeOffset].n)
    if (s >= e) Array.empty else Array(FakeRange(s, e))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
        val FakeRange(s, e) = partition.asInstanceOf[FakeRange]
        new PartitionReader[InternalRow] {
          private var i = s - 1
          override def next(): Boolean = { i += 1; i < e }
          override def get(): InternalRow = FakeKafka.row(i.toInt)
          override def close(): Unit = ()
        }
      }
    }
}
