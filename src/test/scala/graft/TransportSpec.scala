package graft

import java.nio.file.Files

import graft.streaming.{RadiationPipeline, Transport}
import graft.testkit.FakeKafka

/** S5/S6 Kafka wiring (reference flink_process.py:230-236 source,
  * py:354-390 sinks), broker-free: `graft.testkit.FakeKafka` registers the
  * `"kafka"` short name in test scope, so the production
  * `format("kafka")` calls in [[graft.streaming.RadiationPipeline]] resolve
  * and both the analyzed plan and the full pipeline can be checked.
  */
class TransportSpec extends SparkSuite {

  private val kafka = Transport.Kafka(bootstrapServers = "broker:9092")

  private def rec(ct: String, v: Double = 42, lat: Double = 35.6,
                  unit: String = "cpm"): String =
    s"""{"captured_time": "$ct", "latitude": $lat, "longitude": 139.7, "value": $v, "unit": "$unit", "ingestion_timestamp": 1}"""

  test("source(Kafka) plan: kafka streaming source with the transport's options") {
    val df = RadiationPipeline.source(spark, kafka)
    assert(df.isStreaming)
    assert(df.schema.map(f => (f.name, f.dataType.typeName)) == Seq(("value", "string")))
    val plan = df.queryExecution.analyzed.toString
    assert(plan.contains("kafka"), s"kafka source missing from plan:\n$plan")
    assert(plan.contains("broker:9092") && plan.contains("radiation-data") &&
      plan.contains("startingOffsets"),
      s"source options missing from plan:\n$plan")
  }

  test("source(Dir) plan: file source, same single value:string column") {
    val dir = Files.createTempDirectory("graft-transport-src").toString
    Files.writeString(java.nio.file.Path.of(dir, "a.jsonl"), rec("2011-03-15 10:00:00"))
    val df = RadiationPipeline.source(spark, Transport.Dir(dir, outPath = ""))
    assert(df.isStreaming)
    assert(df.schema.fieldNames.toSeq == Seq("value"))
  }

  test("run(Kafka transport) end-to-end: reads the topic, routes to 3 sink topics") {
    FakeKafka.reset()
    FakeKafka.seed("radiation-data",
      rec("2011-03-15 10:00:00", v = 42),            // valid, normal
      rec("2011-03-15 10:00:00", v = 42),            // duplicate → dropped
      rec("2011-03-15 10:00:01", v = 5000),          // valid, critical
      rec("2011-03-15 10:00:02", v = 10, unit = "bq"), // invalid unit → dirty
      // sentinel beyond watermark+window so the cohort panes flush
      rec("2011-03-15 10:00:30", v = 7, lat = 10.0))
    val ckpt = Files.createTempDirectory("graft-transport-ckpt").toString
    // bounded test replay: AvailableNow explicitly (the Kafka default
    // trigger is continuous, matching the reference's always-on job)
    val q = RadiationPipeline.run(spark, kafka, ckpt,
      graft.operators.Readings.Thresholds(), bounded = true,
      org.apache.spark.sql.streaming.Trigger.AvailableNow(), onEpoch = (_, _) => ())
    q.awaitTermination()

    val byTopic = FakeKafka.sentByTopic
    val normal = byTopic.getOrElse("normal-data", Nil)
    val critical = byTopic.getOrElse("critical-data", Nil)
    val dirty = byTopic.getOrElse("dirty-data", Nil)
    assert(normal.size == 1, s"normal: $normal")
    assert(critical.size == 1 && critical.head._2.contains("\"value\":5000"))
    assert(dirty.size == 1 && dirty.head._2.contains("Invalid unit"))
    // key = the composite dedup key; value = enriched JSON without `raw`
    assert(normal.head._1 == "35.60000|139.70000|42.00|2011-03-15 10:00:00|cpm")
    assert(normal.head._2.contains("\"temporal_batch_size\":1") &&
      !normal.head._2.contains("\"raw\""))
  }

  test("serving fold rides the kafka-format path: snapshot fed by the production transport") {
    // S9 over S5/S6: the SAME foldEpoch tested on the Dir transport runs
    // inside the foreachBatch epoch of a format("kafka") pipeline — the
    // production path, exercised verbatim through the fake connector
    FakeKafka.reset()
    FakeKafka.seed("radiation-data",
      rec("2011-03-15 10:00:00", v = 42),            // normal
      rec("2011-03-15 10:00:01", v = 5000),          // critical
      // sentinel beyond watermark+window so the cohort panes flush
      rec("2011-03-15 10:00:30", v = 7, lat = 10.0))
    val ckpt = Files.createTempDirectory("graft-serve-kafka").toString
    val snap = new graft.streaming.Serve.Snapshot(cap = 10)
    val q = RadiationPipeline.run(spark, kafka, ckpt,
      graft.operators.Readings.Thresholds(), bounded = true,
      org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      onEpoch = graft.streaming.Serve.foldEpoch(_, snap, _))
    q.awaitTermination()
    val (n, c) = snap.counts
    assert(n >= 1 && c >= 1, s"snapshot counts ($n, $c)")
    val served = snap.toJson
    assert(served.contains(""""data_priority":"normal"""") &&
      served.contains(""""data_priority":"critical""""), served)
    assert(served.contains(""""value":5000"""), s"critical record not served: $served")
    // served records mirror exactly what the kafka sink topics delivered
    val byTopic = FakeKafka.sentByTopic
    assert(n == byTopic.getOrElse("normal-data", Nil).size &&
      c == byTopic.getOrElse("critical-data", Nil).size,
      s"snapshot ($n, $c) diverges from sink delivery")
  }

  test("epoch retry is idempotent for Dir, at-least-once for Kafka (documented delta)") {
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("graft-retry-out").toString
    val batch = spark.read.json(
      spark.createDataset(Seq(rec("2011-03-15 10:00:00")))(
        org.apache.spark.sql.Encoders.STRING))
    val cached =
      RadiationPipeline.validate(RadiationPipeline.parse(
        batch.selectExpr("to_json(struct(*)) AS value")))
        .withColumn("temporal_batch_size", org.apache.spark.sql.functions.lit(1L))
        .withColumn("timestamp_key", org.apache.spark.sql.functions.lit("k"))
        .withColumn("temporal_ordering", org.apache.spark.sql.functions.lit("compliant")).cache()
    // the same epoch written twice = a foreachBatch retry
    RadiationPipeline.writeEpoch(cached, 7L, Transport.Dir("", out))
    RadiationPipeline.writeEpoch(cached, 7L, Transport.Dir("", out))
    assert(spark.read.parquet(s"$out/normal-data").count() == 1,
      "epoch-partitioned overwrite absorbs the replay")
    FakeKafka.reset()
    RadiationPipeline.writeEpoch(cached, 7L, kafka)
    RadiationPipeline.writeEpoch(cached, 7L, kafka)
    val dups = FakeKafka.sentByTopic("normal-data")
    assert(dups.size == 2 && dups.map(_._1).distinct.size == 1,
      "kafka batch sink re-sends on retry (at-least-once), replays share the record key")
  }

  /** A cached epoch batch in the stream's superset schema, from JSON lines. */
  private def epochBatch(lines: String*): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.lit
    RadiationPipeline.validate(RadiationPipeline.parse(
        spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING).toDF("value")))
      .withColumn("temporal_batch_size", lit(1L))
      .withColumn("timestamp_key", lit("k"))
      .withColumn("temporal_ordering", lit("compliant"))
      .cache()
  }

  test("one Dir sink pass is one Spark job: each topic's epoch holds its route's rows") {
    val out = Files.createTempDirectory("graft-sink-pass").toString
    val dir = Transport.Dir("", out)
    val all = epochBatch(rec("2011-03-15 10:00:00"), rec("2011-03-15 10:00:01", lat = 36.0),
      rec("2011-03-15 10:00:02", v = 5000), rec("2011-03-15 10:00:03", unit = "bq"), "{not json")
    assert(jobsRun(RadiationPipeline.writeEpoch(all, 1L, dir)) == 1)
    // an empty epoch directory has no file to infer a schema from
    def epoch(topic: String, n: Long) = spark.read.schema(all.schema).parquet(s"$out/$topic/epoch=$n")
    val r = RadiationPipeline.route(all)
    for ((topic, rows, n) <- Seq(("normal-data", r.normal, 2), ("critical-data", r.critical, 1),
        ("dirty-data", r.dirty, 2))) {
      val got = spark.read.parquet(s"$out/$topic/epoch=1")
      assert(got.schema.map(f => (f.name, f.dataType)) == all.schema.map(f => (f.name, f.dataType)),
        s"$topic: file schema ${got.schema}")
      assert(got.count() == n && got.exceptAll(rows).isEmpty && rows.exceptAll(got).isEmpty,
        s"$topic: epoch 1 holds other rows than the route")
    }
    // a replayed epoch 1 without critical rows replaces the critical part
    // written before with an empty one
    RadiationPipeline.writeEpoch(epochBatch(rec("2011-03-15 10:00:00"),
      rec("2011-03-15 10:00:03", unit = "bq")), 1L, dir)
    assert(new java.io.File(s"$out/critical-data/epoch=1").isDirectory)
    assert(epoch("critical-data", 1L).count() == 0, "the replay left the earlier critical rows")
    assert(epoch("normal-data", 1L).count() == 1 && epoch("dirty-data", 1L).count() == 1)
    assert(Option(new java.io.File(s"$out/_staging").list()).forall(_.isEmpty),
      "the staging directory kept files")
  }

  test("RunPipeline's sink count: an all-empty topic has 0 rows, an unreadable one fails") {
    val out = Files.createTempDirectory("graft-sink-rows").toString
    RadiationPipeline.writeEpoch(epochBatch(rec("2011-03-15 10:00:00")), 0L, Transport.Dir("", out))
    assert(RunPipeline.sinkRows(spark, s"$out/normal-data") == 1)
    assert(RunPipeline.sinkRows(spark, s"$out/critical-data") == 0)
    Files.writeString(java.nio.file.Path.of(out, "critical-data", "epoch=0", "part-0.parquet"),
      "not parquet")
    intercept[Exception](RunPipeline.sinkRows(spark, s"$out/critical-data"))
  }

  test("Kafka transport: a query killed mid-epoch and restarted delivers what one run delivers") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
    def at(s: Int) = f"2011-03-15 10:00:$s%02d"
    // each half fills all three topics; the second repeats a first-half
    // reading still inside the dedup horizon, then a sentinel past
    // watermark + window flushes every cohort pane before it
    val first = (0 until 10).map(i => rec(at(i), v = 40.0 + i, lat = 30.0 + i)) ++
      Seq(rec(at(2), v = 5000), rec(at(4), unit = "bq"))
    val second = (10 until 16).map(i => rec(at(i), v = 40.0 + i, lat = 30.0 + i)) ++
      Seq(rec(at(8), v = 48.0, lat = 38.0), rec(at(12), v = 5000), rec(at(13), unit = "bq"),
        rec("2011-03-15 10:01:00"))
    def run(ckpt: String): Unit =
      RadiationPipeline.run(spark, kafka, ckpt, graft.operators.Readings.Thresholds(),
        bounded = true, Trigger.AvailableNow(), onEpoch = (_, _) => ()).awaitTermination()
    FakeKafka.reset()
    FakeKafka.seed("radiation-data", first ++ second: _*)
    run(Files.createTempDirectory("graft-kafka-once").toString)
    val once = FakeKafka.sentByTopic

    FakeKafka.reset()
    val ckpt = Files.createTempDirectory("graft-kafka-killed").toString
    FakeKafka.seed("radiation-data", first: _*)
    run(ckpt) // stop after part of the input
    FakeKafka.seed("radiation-data", second: _*)
    val beforeKill = FakeKafka.sent.size
    // the epoch that flushes the panes dies after its normal-data send
    FakeKafka.outageOn("critical-data")
    intercept[StreamingQueryException](run(ckpt))
    val killedRun = FakeKafka.sent.asScala.toSeq.drop(beforeKill)
    run(ckpt) // restart: the killed epoch runs again
    val restarted = FakeKafka.sentByTopic
    for (topic <- Seq("normal-data", "critical-data", "dirty-data")) {
      assert(once(topic).nonEmpty && once(topic).distinct == once(topic),
        s"$topic: the uninterrupted run must fill the topic once")
      assert(restarted(topic).toSet == once(topic).toSet, s"$topic: restarted run diverges")
    }
    // the only repeats are what the killed epoch sent before the outage
    // (at-least-once): part of what the killed run sent
    val all = FakeKafka.sent.asScala.toSeq
    val repeats = all.diff(all.distinct)
    assert(repeats.nonEmpty && repeats.toSet.subsetOf(killedRun.toSet), s"repeats: $repeats")
  }

  test("priorityFromTopics: full write+read relay path, then a session-scaffolded reuse") {
    import graft.operators.Readings
    // SparkEntry's thresholds: danger=400 yields critical rows at sf0.01
    // (the default danger=1000 leaves the critical topic empty there)
    val t = Readings.Thresholds(low = 50, moderate = 200, danger = 400.0)
    // first call in this session: writes the topic dirs AND reads them back
    // (sf0.01 — the smoke scale has no critical readings, so only there do
    // both topics materialize)
    val first = Readings.priorityFromTopics(spark, sf("sf0.01"), t)
    val tags = first.groupBy("data_priority").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tags.keySet == Set("normal", "critical") && tags.values.forall(_ > 0),
      s"both topics must round-trip through the dirs, got $tags")
    // the written scaffold is session-shared: a second call reuses the SAME
    // topic root (no re-write) and reads identical rows — the bench then
    // times the relay READ mechanism, not parquet write throughput
    val second = Readings.priorityFromTopics(spark, sf("sf0.01"), t)
    assert(first.inputFiles.sorted.sameElements(second.inputFiles.sorted),
      "second call must read the same scaffolded topic dirs")
    assert(second.exceptAll(first).isEmpty && first.exceptAll(second).isEmpty,
      "scaffold reuse changed the relay rows")
  }

  test("run(Dir transport) end-to-end: file source to epoch-partitioned parquet") {
    val in = Files.createTempDirectory("graft-dir-in").toString
    val out = Files.createTempDirectory("graft-dir-out").toString
    val ckpt = Files.createTempDirectory("graft-dir-ckpt").toString
    Files.writeString(java.nio.file.Path.of(in, "a.jsonl"),
      Seq(rec("2011-03-15 10:00:00"), rec("2011-03-15 10:00:30", lat = 10.0))
        .mkString("\n"))
    val q = RadiationPipeline.run(spark, Transport.Dir(in, out), ckpt,
      graft.operators.Readings.Thresholds(), bounded = true,
      org.apache.spark.sql.streaming.Trigger.AvailableNow(), onEpoch = (_, _) => ())
    q.awaitTermination()
    val normal = spark.read.parquet(s"$out/normal-data")
    assert(normal.count() == 1)
    assert(normal.select("value").head.getInt(0) == 42)
  }

  test("a Dir run reports its three state operators by the names the benchmark reads") {
    // the traced benchmark run reads each state operator's progress by name
    val in = Files.createTempDirectory("graft-ops-in").toString
    val out = Files.createTempDirectory("graft-ops-out").toString
    val ckpt = Files.createTempDirectory("graft-ops-ckpt").toString
    Files.writeString(java.nio.file.Path.of(in, "a.jsonl"),
      Seq(rec("2011-03-15 10:00:00"), rec("2011-03-15 10:00:00", lat = 99))
        .mkString("\n"))
    val q = RadiationPipeline.run(spark, Transport.Dir(in, out), ckpt,
      graft.operators.Readings.Thresholds(), bounded = true,
      org.apache.spark.sql.streaming.Trigger.AvailableNow(), onEpoch = (_, _) => ())
    q.awaitTermination()
    val names = q.recentProgress.toSeq.map(_.stateOperators.map(_.operatorName).toSeq.sorted)
    assert(names.nonEmpty && names.forall(_ == Seq("dedupe", "dedupeWithinWatermark", "stateStoreSave")),
      s"state operators per epoch: $names")
  }

  test("drain: a query that outlives its timeout throws and is stopped") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[String]
    val q = in.toDF().writeStream.format("memory").queryName("drain_t").start()
    val e = intercept[RuntimeException](LocalFs.drain(q, "endless", ms = 200L))
    assert(e.getMessage.contains("endless stream did not drain"))
    assert(!q.isActive)
  }

  /** The programs (base names) of the processes this JVM forks while `body`
    * runs, from an in-process Flight Recorder recording.
    */
  private def forks(body: => Unit): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val recording = new jdk.jfr.Recording()
    val file = Files.createTempFile("graft-forks", ".jfr")
    try {
      recording.enable("jdk.ProcessStart")
      recording.start()
      try body finally recording.stop()
      recording.dump(file)
      jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.toSeq
        .map(e => java.nio.file.Path.of(e.getString("command").trim.split("\\s+").head)
          .getFileName.toString)
    } finally {
      recording.close()
      Files.deleteIfExists(file)
    }
  }

  test("a local Dir query forks no chmod and no readlink process") {
    // the recording sees forks: Hadoop's stock local file system forks chmod
    val stock = new org.apache.hadoop.fs.RawLocalFileSystem
    stock.initialize(java.net.URI.create("file:///"), new org.apache.hadoop.conf.Configuration())
    val probe = Files.createTempFile("graft-forks", ".txt")
    assert(forks(stock.setPermission(new org.apache.hadoop.fs.Path(probe.toUri),
      new org.apache.hadoop.fs.permission.FsPermission("644"))).contains("chmod"),
      "fixture: the recording must see the stock file system's chmod")

    val in = Files.createTempDirectory("graft-forks-in").toString
    val out = Files.createTempDirectory("graft-forks-out").toString
    val ckpt = Files.createTempDirectory("graft-forks-ckpt").toString
    Files.writeString(java.nio.file.Path.of(in, "a.jsonl"),
      Seq(rec("2011-03-15 10:00:00"), rec("2011-03-15 10:00:01", v = 5000),
        rec("2011-03-15 10:00:02", unit = "bq"), rec("2011-03-15 10:00:30", lat = 10.0))
        .mkString("\n"))
    val forked = forks {
      RadiationPipeline.run(spark, Transport.Dir(in, out), ckpt,
        graft.operators.Readings.Thresholds(), bounded = true,
        org.apache.spark.sql.streaming.Trigger.AvailableNow(), onEpoch = (_, _) => ())
        .awaitTermination()
    }
    for (topic <- Seq("normal-data", "critical-data", "dirty-data"))
      assert(spark.read.parquet(s"$out/$topic").count() == 1, s"fixture: $topic holds one row")
    assert(!forked.contains("chmod") && !forked.contains("readlink"), s"forks: $forked")
  }

  test("a failing sink fails the query and leaves no cached epoch behind") {
    val in = Files.createTempDirectory("graft-dir-in").toString
    val out = Files.createTempDirectory("graft-dir-out").toString
    val ckpt = Files.createTempDirectory("graft-dir-ckpt").toString
    Files.writeString(java.nio.file.Path.of(in, "a.jsonl"), rec("2011-03-15 10:00:00"))
    // a regular file where the normal sink's directory must go
    Files.writeString(java.nio.file.Path.of(out, "normal-data"), "not a directory")
    // CacheManager.numCachedEntries is package-private in Spark; the
    // bytecode method is public, so read it reflectively
    val cache = spark.sharedState.cacheManager
    def cached = cache.getClass.getMethod("numCachedEntries").invoke(cache).asInstanceOf[Int]
    val before = cached
    val q = RadiationPipeline.run(spark, Transport.Dir(in, out), ckpt,
      graft.operators.Readings.Thresholds(), bounded = true,
      org.apache.spark.sql.streaming.Trigger.AvailableNow(), onEpoch = (_, _) => ())
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    assert(cached == before, "the failed epoch's batch stayed cached")
  }

  test("Dir transport: a restart from the checkpoint writes what one uninterrupted run writes") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
    def at(s: Int) = f"2011-03-15 10:00:$s%02d"
    // first half: normal and critical readings 10:00:00-09, one dirty record
    val firstHalf = Seq(
      "a.jsonl" -> (0 until 6).map(i => rec(at(i), v = 40.0 + i, lat = 30.0 + i)),
      "b.jsonl" -> ((6 until 10).map(i => rec(at(i), v = 450.0 + i, lat = 30.0 + i)) :+
        rec(at(7), unit = "usv")))
    val dup = rec(at(8), v = 458.0, lat = 38.0)
    val dirtyDup = rec(at(7), unit = "usv")
    assert(firstHalf.flatMap(_._2).count(Set(dup, dirtyDup)) == 2, "fixture: both dups repeat")
    // second half: a reading in the still-open 10:00:09 window, a duplicate
    // of a first-half reading and of the dirty record (both still inside
    // the dedup state's horizon), then a sentinel past watermark + window
    // that flushes every cohort pane before it
    val secondHalf = Seq(
      "c.jsonl" -> (Seq(rec(at(9), v = 60.0, lat = 50.0), dup, dirtyDup) ++
        (10 until 14).map(i => rec(at(i), v = 70.0 + i, lat = 30.0 + i))),
      "d.jsonl" -> Seq(rec("2011-03-15 10:01:00")))
    def write(in: String, files: Seq[(String, Seq[String])]): Unit = files.foreach {
      case (name, lines) => Files.writeString(java.nio.file.Path.of(in, name), lines.mkString("\n"))
    }
    def run(in: String, out: String, ckpt: String): Unit =
      RadiationPipeline.run(spark, Transport.Dir(in, out), ckpt, SparkEntry.T,
        bounded = true, Trigger.AvailableNow(), onEpoch = (_, _) => ()).awaitTermination()
    def sink(out: String, topic: String) = spark.read.parquet(s"$out/$topic").drop("epoch")
    def parts(out: String): Set[String] = {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(java.nio.file.Path.of(out))
      try walk.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSet
      finally walk.close()
    }
    val (inB, outB, ckptB) = (Files.createTempDirectory("graft-once-in").toString,
      Files.createTempDirectory("graft-once-out").toString,
      Files.createTempDirectory("graft-once-ckpt").toString)
    write(inB, firstHalf ++ secondHalf)
    run(inB, outB, ckptB)
    // the first run's settings: the ones `run` picks, Spark's
    // FileContext-based checkpoint manager, or Hadoop's stock local file
    // system, which stands in for a checkpoint written before `run` picked
    // its own (the rule keeps what the session names); the restart always
    // runs with none set
    for ((first, settings) <- Seq(
        "the default settings" -> Nil,
        "the FileContext-based manager" ->
          Seq(CheckpointManagerKey -> classOf[FileContextBasedCheckpointFileManager].getName),
        "Hadoop's stock LocalFileSystem" ->
          Seq(FileImplKey -> classOf[org.apache.hadoop.fs.LocalFileSystem].getName))) {
      val (inA, outA, ckptA) = (Files.createTempDirectory("graft-restart-in").toString,
        Files.createTempDirectory("graft-restart-out").toString,
        Files.createTempDirectory("graft-restart-ckpt").toString)
      write(inA, firstHalf)
      settings.foreach { case (k, v) => spark.conf.set(k, v) }
      try run(inA, outA, ckptA)
      finally settings.foreach { case (k, _) => spark.conf.unset(k) }
      val firstParts = parts(outA)
      write(inA, secondHalf)
      run(inA, outA, ckptA) // the restart: same checkpoint, more input
      val clue = s"first run on $first"
      // it resumes after the committed epochs instead of replaying them
      assert(firstParts.subsetOf(parts(outA)), s"$clue: the restart rewrote the first run's epochs")
      assert(parts(outA).size > firstParts.size, s"$clue: the restart wrote no new epoch")
      for (topic <- Seq("normal-data", "critical-data", "dirty-data")) {
        val (restarted, once) = (sink(outA, topic), sink(outB, topic))
        assert(restarted.count() > 0, s"$topic: fixture must populate every sink")
        assert(restarted.count() == once.count() && restarted.exceptAll(once).isEmpty &&
          once.exceptAll(restarted).isEmpty, s"$clue, $topic: restarted run diverges from one run")
      }
      val all = Seq("normal-data", "critical-data", "dirty-data").map(sink(outA, _).select("raw"))
        .reduce(_ union _)
      assert(all.filter(col("raw") === dup).count() == 1,
        s"$clue: the duplicate reading reached a sink twice")
      assert(all.filter(col("raw") === dirtyDup).count() == 1,
        s"$clue: the dirty duplicate reached dirty twice")
      // the pane the restart straddles was counted across both runs
      val pane = sink(outA, "critical-data").filter(col("raw") === rec(at(9), v = 459.0, lat = 39.0))
      assert(pane.select("temporal_batch_size").head.getLong(0) == 2, clue)
    }
  }

  private val CheckpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val FileImplKey = "fs.file.impl"

  test("a local checkpoint runs its query on the FileSystem-based manager; the caller's session keeps its own") {
    import java.nio.file.Path
    import org.apache.hadoop.conf.Configuration
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
    // (a) the rule reads the scheme and builds no FileSystem: it answers for
    // schemes whose file system cannot even be loaded
    val conf = new Configuration()
    Seq("hdfs", "s3a").foreach(s => conf.set(s"fs.$s.impl", "no.such.FileSystem"))
    for (p <- Seq("/tmp/ckpt", "ckpt", "file:/tmp/ckpt", "file:///tmp/ckpt"))
      assert(LocalFs.isLocal(p, conf), s"$p counts as local")
    for (p <- Seq("hdfs://nn:8020/x", "s3a://b/x"))
      assert(!LocalFs.isLocal(p, conf), s"$p counts as remote")
    conf.set("fs.defaultFS", "hdfs://nn:8020")
    assert(!LocalFs.isLocal("/tmp/ckpt", conf) && LocalFs.isLocal("file:/tmp/ckpt", conf),
      "a path without a scheme resolves against the default file system")

    def tmp(prefix: String) = Files.createTempDirectory(prefix).toString
    def start(ckpt: String): StreamingQuery = {
      val in = tmp("graft-mgr-in")
      Files.writeString(Path.of(in, "a.jsonl"), rec("2011-03-15 10:00:00"))
      RadiationPipeline.run(spark, Transport.Dir(in, tmp("graft-mgr-out")), ckpt,
        graft.operators.Readings.Thresholds(), bounded = true, Trigger.AvailableNow(),
        onEpoch = (_, _) => ())
    }
    // a setting of the query's own session; sparkSessionForStream is
    // protected[sql] in Spark, its bytecode method is public
    def streamConf(q: StreamingQuery, key: String): Option[String] = {
      val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
      exec.getClass.getMethod("sparkSessionForStream").invoke(exec)
        .asInstanceOf[SparkSession].conf.getOption(key)
    }
    // the manager of the file source's log, which the query builds from the
    // caller's session on its own thread after start() returns
    // (FileStreamSource.metadataLog is private, HDFSMetadataLog.fileManager
    // protected: both read reflectively)
    def sourceLogManager(q: StreamingQuery): String = {
      import org.apache.spark.sql.execution.streaming.runtime.StreamingExecutionRelation
      val src = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.logicalPlan
        .collectFirst { case r: StreamingExecutionRelation => r.source }.get
      val field = src.getClass.getDeclaredField("metadataLog")
      field.setAccessible(true)
      val log = field.get(src)
      log.getClass.getMethod("fileManager").invoke(log).getClass.getName
    }
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    def leaked = LocalFs.LocalQuerySettings.map(_._1).filter(spark.conf.getOption(_).nonEmpty)
    assert(LocalFs.LocalQuerySettings.forall { case (k, _) => hadoopConf.get(k) == null } &&
      leaked.isEmpty, "fixture: neither the session nor the Hadoop configuration names a setting")

    // (d) the query's session carries the FileSystem-based manager and the
    // java.nio local file system, uncached ...
    val ckpt = tmp("graft-mgr-ckpt")
    val q = start(ckpt)
    q.awaitTermination()
    assert(streamConf(q, CheckpointManagerKey).contains(LocalFs.FsCheckpointManager))
    assert(sourceLogManager(q) == LocalFs.FsCheckpointManager)
    assert(streamConf(q, FileImplKey).contains(classOf[NioLocalFileSystem].getName))
    assert(streamConf(q, "fs.file.impl.disable.cache").contains("true"))
    // (b) ... and the caller's session carries none of them, also after a
    // start that throws
    assert(leaked.isEmpty, s"settings leaked into the session: $leaked")
    val notADir = Files.createTempFile("graft-mgr-ckpt", ".file").toString
    val thrown = intercept[org.apache.hadoop.fs.FileAlreadyExistsException](start(notADir))
    assert(thrown.getStackTrace.exists(_.getClassName == LocalFs.FsCheckpointManager),
      "fixture: start must throw while the settings are in place")
    assert(leaked.isEmpty, s"a start that threw leaked settings into the session: $leaked")
    // Hadoop's .crc files and Spark's checkpoint checksums are still written
    val state = new java.io.File(s"$ckpt/state/0/0").list().toSet
    assert(Set("1.delta", ".1.delta.crc", "1.delta.crc", ".1.delta.crc.crc").subsetOf(state),
      s"state store files: $state")

    // (c) a manager the session names is kept and used
    val own = classOf[CountingCheckpointManager].getName
    spark.conf.set(CheckpointManagerKey, own)
    try {
      val before = CountingCheckpointManager.made.get
      val q2 = start(tmp("graft-mgr-ckpt"))
      q2.awaitTermination()
      assert(streamConf(q2, CheckpointManagerKey).contains(own))
      assert(CountingCheckpointManager.made.get > before, "the session's manager was never built")
      assert(spark.conf.getOption(CheckpointManagerKey).contains(own))
    } finally spark.conf.unset(CheckpointManagerKey)

    // (c) so is a local file system the session or the Hadoop configuration
    // (`spark.hadoop.fs.file.impl`) names
    val ownFs = classOf[CountingLocalFileSystem].getName
    for ((where, set, unset) <- Seq[(String, () => Unit, () => Unit)](
        ("the session", () => spark.conf.set(FileImplKey, ownFs), () => spark.conf.unset(FileImplKey)),
        ("the Hadoop configuration", () => hadoopConf.set(FileImplKey, ownFs),
          () => hadoopConf.unset(FileImplKey)))) {
      set()
      try {
        val before = CountingLocalFileSystem.made.get
        val q3 = start(tmp("graft-mgr-ckpt"))
        q3.awaitTermination()
        assert(!streamConf(q3, FileImplKey).contains(classOf[NioLocalFileSystem].getName),
          s"$where: the query replaced the file system")
        assert(CountingLocalFileSystem.made.get > before, s"$where: its file system was never built")
      } finally unset()
      assert(leaked.isEmpty, s"$where: settings leaked into the session: $leaked")
    }
    assert(spark.conf.getOption(FileImplKey).isEmpty && hadoopConf.get(FileImplKey) == null)
  }
}

/** Spark's FileContext-based checkpoint manager, counting how often Spark
  * builds it: a session that names it shows whether its queries used it.
  */
class CountingCheckpointManager(path: org.apache.hadoop.fs.Path,
                                conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.spark.sql.execution.streaming.checkpointing
      .FileContextBasedCheckpointFileManager(path, conf) {
  CountingCheckpointManager.made.incrementAndGet()
}

object CountingCheckpointManager {
  val made = new java.util.concurrent.atomic.AtomicInteger()
}

/** Hadoop's local file system, counting how often Hadoop builds it: a
  * session that names it shows whether its queries used it.
  */
class CountingLocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  CountingLocalFileSystem.made.incrementAndGet()
}

object CountingLocalFileSystem {
  val made = new java.util.concurrent.atomic.AtomicInteger()
}
