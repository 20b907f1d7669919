package graft

import graft.sources.Layout

/** Bucketed layout must produce a shuffle-free co-located join plan. */
class LayoutSpec extends SparkSuite {

  test("day-partitioned events scan prunes to the requested partition") {
    val out = java.nio.file.Files.createTempDirectory("events_day").toString
    Layout.partitionEventsByDay(spark, sf(), out)
    val day = "2024-01-05"
    val df = Layout.readDay(spark, out, day)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains(day),
      s"expected partition pruning on $day in:\n$plan")
    // pruned scan reads only that day's rows
    val n = df.count()
    assert(n > 0)
    val total = spark.read.parquet(out).count()
    assert(n < total)
  }

  test("compact rewrites a fragmented dir into few files, same rows") {
    val out = java.nio.file.Files.createTempDirectory("frag").toString + "/t"
    val df = spark.range(10000).toDF("id")
    df.repartition(64).write.parquet(out) // 64 tiny files
    def files = Option(new java.io.File(out).listFiles()).getOrElse(Array.empty)
      .count(f => f.getName.endsWith(".parquet"))
    assert(files > 10)
    Layout.compact(spark, out)
    assert(files <= 2, s"expected compacted file count, got $files")
    assert(spark.read.parquet(out).count() == 10000)
  }

  test("swapIn: a failed swap-in throws and the original stays readable at path") {
    val root = java.nio.file.Files.createTempDirectory("swap").toString
    val path = s"$root/t"
    spark.range(5).toDF("id").write.parquet(path)
    val e = intercept[java.io.IOException](LocalFs.swapIn(s"$root/missing.tmp", path))
    assert(e.getMessage.contains("swap-in failed"))
    assert(spark.read.parquet(path).count() == 5)
    assert(!new java.io.File(s"$path.old").exists())
    // a swap that succeeds replaces the contents and leaves neither side copy
    spark.range(7).toDF("id").write.parquet(s"$root/t.tmp")
    LocalFs.swapIn(s"$root/t.tmp", path)
    assert(spark.read.parquet(path).count() == 7)
    assert(!new java.io.File(s"$path.old").exists() && !new java.io.File(s"$root/t.tmp").exists())
  }

  test("z-order clusters BOTH filter columns where a linear sort clusters one") {
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, sf("sf0.01")).select("l_partkey", "l_suppkey")
    val zDir = java.nio.file.Files.createTempDirectory("zord").toString + "/t"
    val linDir = java.nio.file.Files.createTempDirectory("lin").toString + "/t"
    Layout.zorderWrite(li, "l_partkey", "l_suppkey", zDir, nFiles = 8)
    li.repartitionByRange(8, col("l_partkey")).sortWithinPartitions("l_partkey")
      .write.parquet(linDir)

    // per-file min/max span of each column, normalized by the global span —
    // the proxy for parquet stats pruning: a predicate on the column skips
    // a file iff the value falls outside the file's [min, max]
    def spans(dir: String): (Double, Double) = {
      val fs = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".parquet"))
      val perFile = fs.map { f =>
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(min("l_partkey"), max("l_partkey"), min("l_suppkey"), max("l_suppkey"))
          .head()
        (r.getLong(1) - r.getLong(0), r.getLong(3) - r.getLong(2))
      }
      val g = li.agg(max("l_partkey") - min("l_partkey"),
        max("l_suppkey") - min("l_suppkey")).head()
      (perFile.map(_._1).sum.toDouble / perFile.length / g.getLong(0),
        perFile.map(_._2).sum.toDouble / perFile.length / g.getLong(1))
    }
    val (zA, zB) = spans(zDir)
    val (lA, lB) = spans(linDir)
    assert(lA < 0.35, s"linear sort clusters its leading column ($lA)")
    assert(lB > 0.9, s"…but leaves the second column unclustered ($lB)")
    assert(zA < 0.75 && zB < 0.75,
      s"z-order must cluster both dimensions: partkey $zA, suppkey $zB")
  }

  test("bucketed orders⋈lineitem join plans without a shuffle exchange") {
    Layout.bucketizeOrders(spark, sf(), nBuckets = 4, suffix = "spec")
    // at sf0.001 Catalyst would (rightly) broadcast the tiny orders side —
    // also shuffle-free, but to prove the at-scale bucket-aligned plan we
    // disable auto-broadcast, simulating a fact⋈fact join
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = Layout.bucketedOrderRevenue(spark, suffix = "spec")
      assert(df.count() > 0)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a non-broadcast join in:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scans must be bucketed:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucket-aligned join must not shuffle either side:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS lineitem_spec")
      spark.sql("DROP TABLE IF EXISTS orders_spec")
    }
  }
}
