package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout utilities for the 100 TB posture: bucketing the big
  * fact tables on their join key makes fact⋈fact joins plan WITHOUT a
  * shuffle on either side (bucket-to-bucket sort-merge join) — at cluster
  * scale this removes the dominant network cost of `orders ⋈ lineitem`.
  *
  * The reference pre-keys its Kafka topic so the first keyed shuffle is
  * already aligned (`data_provider.py:134-150`, README.md:110 rationale);
  * bucketing is the batch-layout equivalent of that same idea.
  */
object Layout {

  /** Write orders + lineitem bucketed (and bucket-sorted) on the order key
    * into the session catalog/warehouse. One-time layout cost; every
    * subsequent join on the key is shuffle-free.
    */
  def bucketizeOrders(spark: SparkSession, dir: String, nBuckets: Int = 8,
                      suffix: String = "b"): Unit = {
    // managed-table locations survive a crashed run; clear both name+location
    Seq(s"lineitem_$suffix", s"orders_$suffix").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (loc.exists()) graft.LocalFs.rmrf(loc)
    }
    graft.Tables.lineitem(spark, dir)
      .write.mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, "l_orderkey").sortBy("l_orderkey")
      .format("parquet").saveAsTable(s"lineitem_$suffix")
    graft.Tables.orders(spark, dir)
      .write.mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, "o_orderkey").sortBy("o_orderkey")
      .format("parquet").saveAsTable(s"orders_$suffix")
  }

  /** Revenue per order over the bucketed layout — planned as a
    * bucket-aligned sort-merge join with no Exchange on either input.
    */
  def bucketedOrderRevenue(spark: SparkSession, suffix: String = "b"): DataFrame =
    spark.table(s"lineitem_$suffix")
      .join(spark.table(s"orders_$suffix"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))

  /** Time-series layout: events written partitioned by day. Queries with a
    * day predicate then scan only the matching directories (partition
    * pruning) — at 100 TB this is the difference between scanning a day
    * and scanning a month.
    */
  def partitionEventsByDay(spark: SparkSession, dir: String, outPath: String): Unit =
    graft.Tables.events(spark, dir)
      .withColumn("day", date_format(
        timestamp_seconds(expr("ts DIV 1000000000")), "yyyy-MM-dd"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("day")
      .parquet(outPath)

  /** Read one day from the partitioned layout — plans with PartitionFilters
    * so only that day's files are touched.
    */
  def readDay(spark: SparkSession, path: String, day: String): DataFrame =
    spark.read.parquet(path).filter(col("day") === day)

  /** Morton (z-order) interleave of two non-negative int columns, `bits`
    * bits each — pure codegen'd arithmetic, no UDF.
    */
  def zValue(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
             bits: Int = 16): org.apache.spark.sql.Column =
    (0 until bits).map { i =>
      shiftright(a, i).bitwiseAND(lit(1)).cast("long") * lit(1L << (2 * i)) +
        shiftright(b, i).bitwiseAND(lit(1)).cast("long") * lit(1L << (2 * i + 1))
    }.reduce(_ + _)

  /** Z-order clustering: range-partition + sort the table by the Morton
    * code of two filter columns, so EVERY file holds a small rectangle of
    * the (a, b) space and min/max stats prune scans on EITHER column — the
    * multi-dimensional analog of a linear sort, which clusters only its
    * leading column. At 100 TB this is what makes `WHERE a = … AND b = …`
    * touch a handful of files instead of the whole table. One range
    * exchange (same cost as any sorted write); the z-column itself is
    * dropped from the output.
    */
  def zorderWrite(df: DataFrame, colA: String, colB: String, outPath: String,
                  nFiles: Int = 8, bits: Int = 16): Unit = {
    // Scale both columns onto the same bits-wide grid first: interleaving
    // RAW values lets the wider-ranged column own all the high bits and the
    // "z-order" silently degenerates to a linear sort on it. The bounds agg
    // is 4 values on the driver — negligible at any scale (and at 100 TB it
    // comes from table stats instead of a scan).
    val b = df.agg(min(colA), max(colA), min(colB), max(colB)).head()
    def scaled(c: String, lo: Long, hi: Long) = {
      val span = math.max(1L, hi - lo)
      ((col(c).cast("long") - lit(lo)) * lit((1L << bits) - 1) / lit(span)).cast("long")
    }
    df.withColumn("__z", zValue(
        scaled(colA, b.getLong(0), b.getLong(1)),
        scaled(colB, b.getLong(2), b.getLong(3)), bits))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(outPath)
  }

  /** Small-file compaction — the maintenance pass every streaming-ingested
    * layout needs: micro-batch sinks land one file per trigger per
    * partition, and a 100 TB table read through millions of KB-sized files
    * is metadata-bound before a single byte of data is scanned. Rewrites a
    * parquet directory into ~`targetBytes` files (count derived from the
    * actual on-disk size), then swaps it in with the crash-safe
    * [[graft.LocalFs.swapIn]] the streaming retention sink also uses.
    */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L * 1024 * 1024): Long = {
    def parquetBytes(d: java.io.File): Long = {
      val fs = Option(d.listFiles()).getOrElse(Array.empty)
      fs.filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.length).sum +
        fs.filter(_.isDirectory).map(parquetBytes).sum
    }
    val bytes = parquetBytes(new java.io.File(path))
    val nFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes)
    val tmp = s"$path.__compact_tmp"
    graft.LocalFs.rmrf(new java.io.File(tmp))
    spark.read.parquet(path)
      .repartition(nFiles.toInt)
      .write.mode(SaveMode.Overwrite).parquet(tmp)
    graft.LocalFs.swapIn(tmp, path)
    nFiles
  }
}
