package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * All operators take a scale-factor directory so the same plan runs from
  * sf0.001 smoke data up to a 100 TB production layout — the parquet reader
  * path is the only thing that changes.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  /** `events.ts` is an INT64 parquet timestamp whose unit has varied across
    * testdata generations (NANOS historically — which Spark 4 refuses to map
    * to TimestampType — MICROS currently). Reading it with an explicit
    * LongType schema always succeeds and yields the raw integer in the
    * file's unit; [[events]] normalizes to epoch-NANOS so every downstream
    * consumer ([[graft.operators.Readings]]) keeps
    * one integer-arithmetic contract (`ts DIV 1e9` = epoch seconds),
    * independent of session timezone conf (works under any driver session).
    */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Multiplier taking the file's raw `ts` integers to epoch-nanos, read
    * from the parquet footer's logical-type annotation (one driver-side
    * footer read, no job — scale-free). Defaults to 1 (nanos) if the
    * annotation is missing or unreadable, which reproduces the historical
    * behavior.
    */
  private[graft] def tsNanosMultiplier(spark: SparkSession, path: String): Long = {
    import org.apache.hadoop.fs.{FileSystem, Path}
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      // Single file in the testdata layout; a directory layout (partitioned
      // production table) resolves through its first data file — the unit is
      // a table-level property.
      val file =
        if (fs.getFileStatus(p).isDirectory)
          fs.listStatus(p).map(_.getPath).filter(_.getName.endsWith(".parquet"))
            .sortBy(_.getName).headOption.getOrElse(p)
        else p
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        val tsField = schema.getType(schema.getFieldIndex("ts"))
        tsField.asPrimitiveType().getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => t.getUnit match {
            case TimeUnit.MILLIS => 1000000L
            case TimeUnit.MICROS => 1000L
            case TimeUnit.NANOS  => 1L
          }
          case _ => 1L
        }
      } finally reader.close()
    } catch {
      case scala.util.control.NonFatal(e) =>
        // a silent 1L here would reintroduce the 1000x time-collapse this
        // probe exists to prevent — make the fallback visible in driver logs
        System.err.println(s"[graft] WARN: ts unit probe failed for $path " +
          s"(${e.getClass.getSimpleName}: ${e.getMessage}); assuming NANOS multiplier 1")
        1L
    }
  }

  def events(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val mult = tsNanosMultiplier(spark, path)
    val raw = spark.read.schema(eventsSchema).parquet(path)
    if (mult == 1L) raw
    else raw.withColumn("ts", org.apache.spark.sql.functions.col("ts") * mult)
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Register every table as a temp view (plus the engine's SQL functions)
    * so the full surface is reachable through `spark.sql(...)` — the
    * engine's SQL front door: `registerAll(spark, dir);
    * spark.sql("SELECT dot_product(a.embedding, b.embedding) ...")`.
    * `events` registers through the nanos-safe schema above — never
    * register it via a raw parquet read.
    */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
        "region", "documents", "embeddings")
      .foreach(n => table(spark, dir, n).createOrReplaceTempView(n))
    events(spark, dir).createOrReplaceTempView("events")
    graft.plans.GraftExtensions.register(spark)
  }
}
