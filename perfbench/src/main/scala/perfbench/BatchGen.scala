package perfbench

import java.time.LocalDateTime

import scala.util.Random

import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator of the batch tables the registered queries read, with
  * the column names and types of the project's test data (TESTDATA.md):
  * a TPC-H-like star schema, the `events` table the pipeline twins read,
  * and the `documents`/`embeddings` tables of the vector tier. Row counts
  * match scale factor 0.01. Values keep the test data's precision (money
  * and readings to two decimals, timestamps to the microsecond) so the
  * DuckDB oracle and Spark agree on them.
  */
object BatchGen {

  private def r2(x: Double): Double = math.round(x * 100) / 100.0
  private val T1995 = LocalDateTime.of(1995, 1, 1, 0, 0)
  private val T2024 = LocalDateTime.of(2024, 1, 1, 0, 0)

  private val words = ("a the data query table row column key value join scan sort merge " +
    "hash group order filter window stream batch spark fast slow big small line part " +
    "customer agg index cache plan shuffle map reduce node cluster task stage job " +
    "file block page").split(' ').toVector

  /** Rows of each table for `seed`; deterministic in `seed` alone. */
  def tables(seed: Long): Seq[(String, StructType, Seq[Row])] = {
    val rnd = new Random(seed)
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    val all: Seq[(String, () => (StructType, Seq[Row]))] = Seq(
      "region" -> (() => (schema("r_regionkey" -> IntegerType, "r_name" -> StringType),
        Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
          .map { case (n, i) => Row(i, n) })),
      "nation" -> (() => (schema("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType),
        (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))),
      "customer" -> (() => (schema("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
        (0 until 1500).map(i => Row(i.toLong, f"Customer#$i%09d", rnd.nextInt(25),
          r2(-999.99 + 10999.98 * rnd.nextDouble()),
          pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")))))),
      "supplier" -> (() => (schema("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
        (0 until 100).map(i => Row(i.toLong, f"Supplier#$i%09d", rnd.nextInt(25),
          r2(-999.99 + 10999.98 * rnd.nextDouble()))))),
      "part" -> (() => (schema("p_partkey" -> LongType, "p_name" -> StringType,
        "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
        "p_retailprice" -> DoubleType),
        (0 until 2000).map(i => Row(i.toLong,
          pick(Seq("small", "red", "blue", "hot", "cold", "old", "new", "large")) + " " +
            pick(Seq("ring", "widget", "bolt", "gear", "rod", "anvil", "plate", "gizmo")),
          s"Brand#${1 + rnd.nextInt(25)}",
          pick(Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")),
          1 + rnd.nextInt(50), 900.0 + (i % 1000) / 10.0)))),
      "orders" -> (() => (schema("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
        (0 until 15000).map(i => Row(i.toLong, rnd.nextInt(1500).toLong, pick(Seq("F", "O", "P")),
          r2(1000.0 + 499000.0 * rnd.nextDouble()), orderDate(i),
          pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")))))),
      "lineitem" -> (() => (schema("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
        "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampNTZType),
        (0 until 15000).flatMap { o =>
          (1 to 1 + rnd.nextInt(7)).map { ln =>
            val qty = (1 + rnd.nextInt(50)).toDouble
            Row(o.toLong, rnd.nextInt(2000).toLong, rnd.nextInt(100).toLong, ln, qty,
              r2(qty * (900.0 + 1200.0 * rnd.nextDouble())), rnd.nextInt(11) / 100.0,
              rnd.nextInt(9) / 100.0, pick(Seq("A", "N", "R")), pick(Seq("O", "F")),
              orderDate(o).plusDays(1 + rnd.nextInt(121)))
          }
        })),
      "events" -> (() => (schema("event_id" -> LongType, "ts" -> TimestampNTZType,
        "user_id" -> LongType, "event_type" -> StringType, "value" -> DoubleType,
        "props" -> StringType),
        (0 until 10000).map { i =>
          val t = T2024.plusNanos((rnd.nextDouble() * 30 * 86400e6).toLong * 1000L)
          Row(i.toLong, t, rnd.nextInt(150).toLong,
            pick(Seq("click", "view", "purchase", "signup", "error")),
            math.max(0.01, math.min(490.02, r2(-50.0 * math.log(1.0 - rnd.nextDouble())))),
            s"""{"k": ${rnd.nextInt(100)}}""")
        })),
      "documents" -> (() => (schema("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
        (0 until 500).map { i =>
          val text = Seq.fill(8 + rnd.nextInt(70))(pick(words)).mkString(" ")
          Row(i.toLong, text, pick(Seq("en", "en", "en", "de", "es", "fr", "zh")),
            s"src${i % 20}", text.length.toLong)
        })),
      "embeddings" -> (() => {
        val centers = Vector.fill(10)(unit(Array.fill(64)(rnd.nextGaussian())))
        (schema("vec_id" -> LongType, "embedding" -> ArrayType(FloatType), "label" -> IntegerType),
          (0 until 500).map { i =>
            val label = rnd.nextInt(10)
            val v = unit(Array.tabulate(64)(d => 1.2 * centers(label)(d) + rnd.nextGaussian()))
            Row(i.toLong, v.map(_.toFloat).toSeq, label)
          })
      }))
    all.map { case (n, build) => val (s, rows) = build(); (n, s, rows) }
  }

  private def orderDate(o: Int): LocalDateTime =
    T1995.plusDays(((o.toLong * 2654435761L) & 0x7fffffffL) % 2404)

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  private def schema(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (n, t) => StructField(n, t) })

  /** Write each table as `<dir>/<name>.parquet`, one file, timestamps as
    * zone-less INT64 microseconds like the test data (`Tables.events` reads
    * the unit from the footer).
    */
  def write(spark: SparkSession, seed: Long, dir: String): Unit = {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    tables(seed).foreach { case (name, schema, rows) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/$name.parquet")
    }
  }
}
