package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.RadiationPipeline
import graft.streaming.RadiationPipeline.Config
import graft.operators.Readings.Thresholds

/** Streaming-semantics tests (FIXTURES.md §A5 streaming rows): dedup within
  * watermark, same-second cohort annotation, late-data drop, 3-way routed
  * end-to-end run, and the keyed-state stream operators. MemoryStream +
  * processAllAvailable makes event-time progress deterministic.
  */
class StreamingSpec extends SparkSuite {
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def rec(ct: String, lat: Double = 35.6, lon: Double = 139.7,
                  v: Double = 42, unit: String = "cpm"): String =
    s"""{"captured_time": "$ct", "latitude": $lat, "longitude": $lon, "value": $v, "unit": "$unit", "ingestion_timestamp": 1}"""

  test("streaming dedup drops exact duplicates, keeps 6th-decimal near-dups") {
    val in = MemoryStream[String]
    val out = RadiationPipeline.withCohort(
      RadiationPipeline.validate(RadiationPipeline.parse(in.toDF())), Config(annotate = false))
    val q = out.writeStream.format("memory").queryName("dedup_t").outputMode("append").start()
    in.addData(
      rec("2011-03-15 10:00:00"),
      rec("2011-03-15 10:00:00"),                  // exact dup of the key
      rec("2011-03-15 10:00:00", lat = 35.600001), // rounds to same 5dp → dup
      rec("2011-03-15 10:00:00", lat = 35.60002))  // differs at 5th dp → kept
    q.processAllAvailable()
    val keys = spark.table("dedup_t").select("dedup_key").as[String].collect().sorted
    q.stop()
    assert(keys.length == 2)
    assert(keys.toSet == Set(
      "35.60000|139.70000|42.00|2011-03-15 10:00:00|cpm",
      "35.60002|139.70000|42.00|2011-03-15 10:00:00|cpm"))
  }

  test("stateful dedup runs on the RocksDB state store provider (cluster state path)") {
    // the 100 TB posture keeps streaming state in RocksDB (spillable,
    // incremental checkpoints) rather than the in-memory HDFS-backed map;
    // prove the operators run unchanged on that provider
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[String]
      val out = RadiationPipeline.withCohort(
        RadiationPipeline.validate(RadiationPipeline.parse(in.toDF())), Config(annotate = false))
      val q = out.writeStream.format("memory").queryName("rocks_t")
        .outputMode("append").start()
      in.addData(rec("2011-03-15 10:00:00"), rec("2011-03-15 10:00:00"))
      q.processAllAvailable()
      val n = spark.table("rocks_t").count()
      // provider actually engaged: RocksDB custom metrics present
      val metrics = q.lastProgress.stateOperators.head.customMetrics.keySet()
      q.stop()
      assert(n == 1)
      assert(metrics.stream().anyMatch(_.toLowerCase.contains("rocksdb")),
        s"expected rocksdb state metrics, got $metrics")
      // the flatMapGroupsWithState tier (quota admission) must run on the
      // same provider — its state layout is a case class, not a row set;
      // the second batch reads the first one's state back
      import graft.streaming.QuotaStream
      import graft.streaming.QuotaStream.QDoc
      val fin = MemoryStream[QDoc]
      val fq = QuotaStream(fin.toDS(), quota = 100L).writeStream.format("memory")
        .queryName("rocks_quota_t").outputMode("append").start()
      fin.addData(QDoc(1L, "srcA", 60L, Timestamp.valueOf("2026-01-01 10:00:00")))
      fq.processAllAvailable()
      fin.addData(QDoc(2L, "srcA", 60L, Timestamp.valueOf("2026-01-01 10:00:05")),
        QDoc(3L, "srcA", 30L, Timestamp.valueOf("2026-01-01 10:00:06")))
      fq.processAllAvailable()
      val decisions = spark.table("rocks_quota_t").select("doc_id", "admitted", "admitted_tok")
        .as[(Long, Boolean, Long)].collect().sorted.toSeq
      fq.stop()
      assert(decisions == Seq((1L, true, 60L), (2L, false, 60L), (3L, true, 90L)))
    } finally {
      prev match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("unbounded dedup (reference-faithful) drops dups across batches beyond the watermark") {
    val in = MemoryStream[String]
    val out = RadiationPipeline.withCohort(
      RadiationPipeline.validate(RadiationPipeline.parse(in.toDF())),
      Config(bounded = false, annotate = false))
    val q = out.writeStream.format("memory").queryName("dedup_ub_t").outputMode("append").start()
    in.addData(rec("2011-03-15 10:00:00"))
    q.processAllAvailable()
    // much later event time — a bounded dedup would have expired the state
    in.addData(rec("2011-03-15 12:00:00", v = 7), rec("2011-03-15 10:00:00"))
    q.processAllAvailable()
    val n = spark.table("dedup_ub_t").count()
    q.stop()
    assert(n == 2, "the 2h-late exact duplicate must still be dropped (never-expiring state)")
  }

  test("duplicate malformed records reach dirty once (bypass path dedups)") {
    // the reference's keyed dedup runs before validation, so dup invalid
    // records collapse too
    val in = MemoryStream[String]
    val out = RadiationPipeline.withCohort(
      RadiationPipeline.validate(RadiationPipeline.parse(in.toDF())))
    val q = out.writeStream.format("memory").queryName("dirty_dedup_t")
      .outputMode("append").start()
    in.addData(
      rec("2011-03-15 10:00:00", v = -5),  // invalid: non-positive
      rec("2011-03-15 10:00:00", v = -5),  // exact duplicate
      rec("garbage-ts"))                   // valid fields, unparseable ts
    in.addData(rec("garbage-ts"))          // cross-batch duplicate
    q.processAllAvailable()
    val rows = spark.table("dirty_dedup_t")
      .select("status", "dedup_key").collect()
    q.stop()
    assert(rows.count(_.getString(0) == "invalid") == 1)
    // unparseable-ts duplicates collapse too (valid, bypassed the window)
    assert(rows.count(_.getString(0) == "valid") == 1)
  }

  test("late invalid record reaches dirty-data with the cohort window off (annotate = false)") {
    // ENABLE_TEMPORAL_ORDERING=false: an invalid record whose timestamp
    // parses but lies behind the watermark belongs in dirty-data — it must
    // take the unbounded bypass, never the watermark-bounded dedup
    val in = MemoryStream[String]
    val out = RadiationPipeline.withCohort(
      RadiationPipeline.validate(RadiationPipeline.parse(in.toDF())), Config(annotate = false))
    val q = out.writeStream.format("memory").queryName("late_dirty_t")
      .outputMode("append").start()
    in.addData(rec("2011-03-15 12:00:00"))
    q.processAllAvailable()
    in.addData(rec("2011-03-15 10:00:00", v = -5)) // 2 h behind the watermark
    q.processAllAvailable()
    val rows = spark.table("late_dirty_t").select("status", "timestamp").collect()
    q.stop()
    assert(rows.count(_.getString(0) == "valid") == 1)
    assert(rows.filter(_.getString(0) == "invalid").map(_.getString(1)).toSeq ==
      Seq("2011-03-15 10:00:00"), s"late invalid record lost: ${rows.toSeq}")
  }

  test("cohort window annotates same-second batch size; late rows dropped") {
    val in = MemoryStream[String]
    val out = RadiationPipeline.withCohort(
      RadiationPipeline.validate(RadiationPipeline.parse(in.toDF())), Config())
    val q = out.writeStream.format("memory").queryName("cohort_t").outputMode("append").start()
    // batch 1: a 3-cohort at :00, a 1-cohort at :01
    in.addData(
      rec("2011-03-15 10:00:00", v = 10),
      rec("2011-03-15 10:00:00", v = 20),
      rec("2011-03-15 10:00:00", v = 30),
      rec("2011-03-15 10:00:01", v = 40))
    q.processAllAvailable()
    // batch 2: advance watermark far past :01 so those windows close
    in.addData(rec("2011-03-15 10:10:00", v = 50))
    q.processAllAvailable()
    // batch 3: a record 5+s behind the 10:10:00 watermark → late, dropped
    in.addData(rec("2011-03-15 10:00:05", v = 60))
    q.processAllAvailable()
    in.addData(rec("2011-03-15 10:20:00", v = 70))
    q.processAllAvailable()
    val rows = spark.table("cohort_t")
      .select("timestamp_key", "temporal_batch_size", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    q.stop()
    val cohort0 = rows.filter(_._1 == "2011-03-15 10:00:00")
    assert(cohort0.length == 3 && cohort0.forall(_._2 == 3L))
    val cohort1 = rows.filter(_._1 == "2011-03-15 10:00:01")
    assert(cohort1.length == 1 && cohort1.head._2 == 1L)
    assert(!rows.exists(_._3 == 60), "late record must be dropped")
  }

  test("end-to-end run routes to normal/critical/dirty parquet sinks") {
    val dir = java.nio.file.Files.createTempDirectory("graft_run").toString
    val in = MemoryStream[String]
    in.addData(
      rec("2011-03-15 10:00:00", v = 42),    // normal
      rec("2011-03-15 10:00:00", v = 1500),  // critical
      rec("2011-03-15 10:00:00", lat = 99),  // dirty
      "{not json",                           // dirty (parse failure)
      // watermark pusher: advances event time so the 10:00:00 window closes;
      // its own window stays open and is not emitted in this run
      rec("2011-03-15 10:10:00", v = 7))
    val q = RadiationPipeline.run(in.toDF(), s"$dir/out", s"$dir/ckpt", Thresholds())
    q.awaitTermination(60000)
    val normal = spark.read.parquet(s"$dir/out/normal-data")
    val critical = spark.read.parquet(s"$dir/out/critical-data")
    val dirty = spark.read.parquet(s"$dir/out/dirty-data")
    assert(normal.count() == 1 && normal.head().getAs[Int]("value") == 42)
    assert(critical.count() == 1 && critical.head().getAs[Boolean]("critical"))
    assert(dirty.count() == 2)
    // valid rows carry cohort annotation; dirty bypassed the window (W5/W6)
    assert(normal.head().getAs[Long]("temporal_batch_size") == 2L)
    assert(dirty.where(col("temporal_batch_size").isNotNull).count() == 0)
  }

  test("stream-stream interval join correlates two event streams on key and time") {
    val left = MemoryStream[String]
    val right = MemoryStream[String]
    def v(in: MemoryStream[String]) =
      RadiationPipeline.validate(RadiationPipeline.parse(in.toDF()))
        .filter(col("status") === "valid")
    val l = v(left).select(col("dedup_key").as("lk"), col("value").as("l_value"),
      col("event_time").as("l_time")).withWatermark("l_time", "10 seconds")
    val r = v(right).select(col("lat").as("r_lat"), col("value").as("r_value"),
      col("event_time").as("r_time")).withWatermark("r_time", "10 seconds")
    // correlate readings at the same location within ±5s
    val joined = l.join(r,
      expr("l_value = r_value AND r_time BETWEEN l_time - interval 5 seconds AND l_time + interval 5 seconds"))
    val q = joined.writeStream.format("memory").queryName("ss_join_t")
      .outputMode("append").start()
    left.addData(rec("2011-03-15 10:00:00", v = 42))
    right.addData(rec("2011-03-15 10:00:03", v = 42),  // within 5s → joins
                  rec("2011-03-15 10:00:30", v = 42))  // outside → no join
    left.addData(rec("2011-03-15 10:30:00", v = 1))    // watermark pusher
    right.addData(rec("2011-03-15 10:30:00", v = 2))
    q.processAllAvailable()
    val n = spark.table("ss_join_t").count()
    q.stop()
    assert(n == 1, "exactly the within-window pair joins")
  }

  test("stream-static join enriches the stream with a broadcast dimension") {
    val in = MemoryStream[String]
    val dim = Seq((42, "sensor-A"), (120, "sensor-B")).toDF("dim_value", "sensor_name")
    val enriched = RadiationPipeline.validate(RadiationPipeline.parse(in.toDF()))
      .filter(col("status") === "valid")
      .join(org.apache.spark.sql.functions.broadcast(dim),
        col("value") === col("dim_value"), "left")
    val q = enriched.writeStream.format("memory").queryName("enrich_t")
      .outputMode("append").start()
    in.addData(rec("2011-03-15 10:00:00", v = 42), rec("2011-03-15 10:00:01", v = 7))
    q.processAllAvailable()
    val rows = spark.table("enrich_t").select("value", "sensor_name")
      .as[(Int, Option[String])].collect().sortBy(_._1)
    q.stop()
    assert(rows.toSeq == Seq((7, None), (42, Some("sensor-A"))))
  }

  test("doc stream curation: gates drop before state, dedup within watermark") {
    val in = MemoryStream[(Long, String, String, Timestamp)]
    val ts = (s: Int) => Timestamp.valueOf(f"2026-01-01 10:00:$s%02d")
    // quality gate needs ~50 long words; 'the'/'a' pick the language
    val good = ("the" +: Seq.tabulate(49)(i => s"magnificent$i")).mkString(" ")
    val good2 = ("a" +: Seq.tabulate(49)(i => s"wonderful$i")).mkString(" ")
    val out = graft.streaming.DocStream.curateStream(
      in.toDF().toDF("doc_id", "text", "source", "ingest_ts"))
    val q = out.writeStream.format("memory").queryName("docstream_t")
      .outputMode("append").start()
    in.addData(
      (1L, good, "s", ts(0)),
      (2L, good.toUpperCase, "s", ts(1)),   // same after normalization → dup
      (3L, "el la los gatos", "s", ts(2)),  // language gate, never enters state
      (4L, "the cat sat", "s", ts(3)),      // quality gate, never enters state
      (5L, good2, "s", ts(4)))              // distinct content → kept
    q.processAllAvailable()
    val kept = spark.table("docstream_t").select("doc_id").as[Long].collect().sorted
    q.stop()
    assert(kept.toSeq == Seq(1L, 5L))
  }

  test("image stream dedup: first occurrence per perceptual hash survives, twins drop") {
    // pick ids from the synthesis families deliberately: two whose dHash
    // collides exactly (perceptual twins) and one distinct — computed from
    // the SAME shared dhashOf the operator runs, so the fixture can't
    // drift from the engine
    val pool = (1L to 400L).filter(_ % 3 == 0)
    val byHash = pool.groupBy(graft.multimodal.Multimodal.dhashOf)
    val twins = byHash.values.find(_.size >= 2).get.take(2)
    val loner = byHash.filter(_._2.size == 1).head._2.head
    val in = MemoryStream[(Long, Timestamp)]
    val ts = (s: Int) => Timestamp.valueOf(f"2026-01-01 10:00:$s%02d")
    val out = graft.streaming.ImageDedupStream(
      in.toDF().toDF("media_id", "ingest_ts"))
    val q = out.writeStream.format("memory").queryName("imgdedup_t")
      .outputMode("append").start()
    in.addData((twins(0), ts(0)), (loner, ts(1)))
    q.processAllAvailable()
    in.addData((twins(1), ts(2))) // second family member, later batch → dropped
    q.processAllAvailable()
    val kept = spark.table("imgdedup_t").select("media_id").as[Long].collect().toSet
    q.stop()
    assert(kept == Set(twins(0), loner),
      s"kept $kept, expected first twin ${twins(0)} and loner $loner only")
  }

  test("image stream dedup matches batch exact-collapse: one survivor per hash, batch-1 wins") {
    // the streaming-batch contract: first-occurrence-per-hash under
    // ascending-id arrival is exactly the batch tier's min-id-per-dhash
    // representative set (the groupBy(dhash) exact collapse inside
    // imageDupClusters), so the two tiers agree on what survives
    val ids = (1L to 200L).filter(_ % 3 == 0)
    val in = MemoryStream[(Long, Timestamp)]
    val ts = (s: Int) => Timestamp.valueOf(f"2026-01-01 10:${s / 60}%02d:${s % 60}%02d")
    val out = graft.streaming.ImageDedupStream(
      in.toDF().toDF("media_id", "ingest_ts"))
    val q = out.writeStream.format("memory").queryName("imgdedup_eq")
      .outputMode("append").start()
    // two batches; all event times inside ONE watermark horizon — the
    // `withinWatermark` contract only promises dedup for events within the
    // horizon of each other (cross-horizon dedup is the batch compaction's
    // job, by design)
    val (b1, b2) = ids.splitAt(ids.length / 2)
    in.addData(b1.map(id => (id, ts(0))): _*)
    q.processAllAvailable()
    in.addData(b2.map(id => (id, ts(5))): _*)
    q.processAllAvailable()
    val streamKept = spark.table("imgdedup_eq")
      .select("media_id").as[Long].collect().toSet
    q.stop()
    // the tier contract, stated at the HASH level (which same-batch twin
    // survives is an execution detail): exactly one survivor per distinct
    // perceptual hash — the same survivor set size and hash coverage as
    // the batch tier's groupBy(dhash) exact collapse
    val dhash = graft.multimodal.Multimodal.dhashOf _
    val batchHashes = ids.map(dhash).toSet
    assert(streamKept.map(dhash) == batchHashes,
      "stream survivors don't cover the batch-distinct hash set")
    assert(streamKept.size == batchHashes.size,
      s"stream kept ${streamKept.size} for ${batchHashes.size} distinct hashes — dup survived")
    // cross-batch determinism: a hash first seen in batch 1 must keep its
    // batch-1 representative, never a batch-2 twin
    val b1Hashes = b1.map(dhash).toSet
    streamKept.filter(id => b1Hashes(dhash(id))).foreach { id =>
      assert(b1.contains(id), s"batch-2 twin $id displaced a batch-1 first occurrence")
    }
  }

  test("vector stream admission: base near-dups rejected, exact stream dups collapse") {
    import graft.streaming.VectorDedupStream
    // hand-built geometry at threshold 0.4, bits=4 (sign bucket of the
    // first 4 coords): base holds one unit vector along +x
    val ts = (s: Int) => Timestamp.valueOf(f"2026-01-01 10:00:$s%02d")
    val base = Seq((100L, Seq(1.0, 0.1, 0.1, 0.1)))
      .toDF("vec_id", "v")
      .withColumn("nrm", sqrt(graft.functions.VectorOps.dot(col("v"), col("v"))))
      .select(graft.functions.VectorOps.bucketExpr(col("v"), 4).as("b_bkt"),
        col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    val nearBase = Seq(0.9, 0.2, 0.05, 0.1)  // same bucket, cos ≈ 0.97 → reject
    val ortho    = Seq(0.05, 0.1, 3.0, 0.2)  // same bucket, cos ≈ 0.13 → admit
    val offBkt   = Seq(1.0, -0.1, 0.1, 0.1)  // near +x but bucket 1011 → admit (LSH recall tradeoff)
    val in = MemoryStream[(Long, Seq[Double], Timestamp)]
    val out = VectorDedupStream(
      in.toDF().toDF("vec_id", "v", "ingest_ts"), base)
    val q = out.writeStream.format("memory").queryName("vecdedup_t")
      .outputMode("append").start()
    in.addData((1L, nearBase, ts(0)), (2L, ortho, ts(1)), (3L, offBkt, ts(2)))
    q.processAllAvailable()
    in.addData((4L, ortho, ts(3)))  // exact content repeat within horizon → drop
    q.processAllAvailable()
    val kept = spark.table("vecdedup_t").select("vec_id").as[Long].collect().toSet
    q.stop()
    assert(kept == Set(2L, 3L),
      s"kept $kept: expected base near-dup 1 rejected, 2 and off-bucket 3 admitted, retry 4 collapsed")
  }

  test("vector stream admission: fingerprint dedup state survives a checkpointed restart") {
    import graft.streaming.VectorDedupStream
    val ts = (s: Int) => Timestamp.valueOf(f"2026-01-01 10:00:$s%02d")
    // empty base: this test isolates the STATEFUL half (exact-fingerprint
    // dedup); the admission anti-join is stateless and covered above
    val base = Seq.empty[(String, Long, Seq[Double], Double)]
      .toDF("b_bkt", "id_b", "vb", "nb")
    val vec = Seq(0.3, 0.4, 0.5, 0.6)
    val other = Seq(9.0, 8.0, 7.0, 6.0)
    val ckpt = java.nio.file.Files.createTempDirectory("vecdedup_ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("vecdedup_out").toString
    val in = MemoryStream[(Long, Seq[Double], Timestamp)]
    val out = VectorDedupStream(in.toDF().toDF("vec_id", "v", "ingest_ts"), base)
    def start() = out.writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start()
    in.addData((1L, vec, ts(0)))
    q1.processAllAvailable()
    q1.stop()
    // restart from the SAME checkpoint: only recovered fingerprint state
    // can drop the retry of vec_id 1's content arriving as vec_id 2
    val q2 = start()
    in.addData((2L, vec, ts(1)), (3L, other, ts(2)))
    q2.processAllAvailable()
    q2.stop()
    val kept = spark.read.parquet(outDir).select("vec_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L),
      s"kept ${kept.toSeq}: retry (2) must hit recovered state, fresh content (3) must pass")
  }

  test("vector stream admission agrees with the batch incremental tier on base verdicts") {
    import graft.streaming.VectorDedupStream
    // differential contract on the REAL testdata: stream every delta-split
    // vector (ascending id, one batch) against the frozen base; the
    // admitted set must be exactly the batch operator's NOT-dup_of_base
    // set. dup_in_increment is out of stream scope by design — the batch
    // classes split it out, so equality is exact, not approximate.
    val sfDir = sf()
    val batch = graft.functions.VectorOps.semDedupIncr(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    val deltaVecs = graft.functions.VectorOps.prepared(spark, sfDir)
      .filter(graft.Exprs.arrivalSplit(col("vec_id"), 5) === 0)
      .select("vec_id", "v").as[(Long, Seq[Double])].collect().sortBy(_._1)
    val in = MemoryStream[(Long, Seq[Double], Timestamp)]
    val tsv = Timestamp.valueOf("2026-01-01 10:00:00")
    val out = VectorDedupStream(
      in.toDF().toDF("vec_id", "v", "ingest_ts"),
      VectorDedupStream.frozenBase(spark, sfDir))
    val q = out.writeStream.format("memory").queryName("vecdedup_eq")
      .outputMode("append").start()
    in.addData(deltaVecs.map { case (id, v) => (id, v, tsv) }: _*)
    q.processAllAvailable()
    val admitted = spark.table("vecdedup_eq").select("vec_id").as[Long].collect().toSet
    q.stop()
    val expected = batch.collect {
      case (id, reason) if reason != "dup_of_base" => id
    }.toSet
    // exact-content stream dups would also collapse, but testdata vectors
    // are distinct — assert that precondition so the contract stays sharp
    assert(deltaVecs.map(_._2).distinct.length == deltaVecs.length,
      "fixture precondition broken: delta vectors must be content-distinct")
    assert(admitted == expected,
      s"stream/batch divergence: stream-only=${admitted -- expected}, batch-only=${expected -- admitted}")
  }
  test("video stream admission agrees with the batch incremental tier on base verdicts") {
    import graft.streaming.VideoDedupStream
    import graft.multimodal.Multimodal
    val sfDir = sf()
    val batch = Multimodal.videoDedupIncr(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    val deltaIds = batch.keySet.toSeq.sorted
    // the stream gates ONLY against the frozen base (near containment) +
    // exact-signature repeats; batch dup_in_increment (near pairs inside
    // the delta) is compaction's job and must be ADMITTED by the stream
    val expected = batch.collect {
      case (id, reason) if reason != "dup_of_base" => id
    }.toSet
    val out = java.nio.file.Files.createTempDirectory("vds_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("vds_ckpt").toString
    val ts = Timestamp.valueOf("2026-01-01 10:00:00")
    val in = MemoryStream[(Long, Timestamp)]
    val q = VideoDedupStream.appendStream(
      in.toDF().toDF("media_id", "ingest_ts"),
      VideoDedupStream.frozenBaseFrames(spark, sfDir), out, ckpt)
    try {
      in.addData(deltaIds.map(id => (id, ts)))
      q.processAllAvailable()
      val admitted = spark.read.parquet(out).select("media_id")
        .as[Long].collect().toSet
      assert(admitted == expected,
        s"stream/batch divergence: stream-only=${admitted -- expected}, " +
          s"batch-only=${expected -- admitted}")
      // replayed feed: every signature is already admitted — the signature
      // dedup state must keep the output fixed (retry idempotence)
      in.addData(deltaIds.map(id => (id, ts)))
      q.processAllAvailable()
      assert(spark.read.parquet(out).count() == expected.size,
        "replayed arrivals must not re-admit")
    } finally q.stop()
  }

  test("video stream: far-family arrival admitted, base-family arrival rejected") {
    import graft.streaming.VideoDedupStream
    import graft.multimodal.Multimodal
    // Craft a corpus where BOTH verdict classes occur (on testdata every
    // delta video is base-contained, so the admitted path never fires):
    // base videos all in texture family 2; one delta arrival in family 2
    // (fully contained -> rejected) and one in family 8 — far enough that
    // even the adjacent-family tail/head texture overlap can't reach it
    // (video ids are ≡2 mod 3, so only families {2,5,8,11,14} exist).
    // Families come from id % 15; the base/delta split is the salted
    // hex60 the tiers share.
    val candidates = (2L until 1000L by 3L).toDF("video_id")
      .withColumn("fam", col("video_id") % 15)
      .withColumn("is_delta", pmod(graft.Exprs.hex60(
        concat(lit("inc:"), col("video_id").cast("string"))), lit(3)) === 0)
      .as[(Long, Long, Boolean)].collect()
    val baseIds = candidates.collect { case (id, 2L, false) => id }.take(3)
    val rejectId = candidates.collectFirst { case (id, 2L, true) => id }.get
    val admitId = candidates.collectFirst { case (id, 8L, true) => id }.get
    assert(baseIds.nonEmpty, "fixture needs base videos in family 2")
    val docs = (baseIds :+ rejectId :+ admitId).toSeq
      .map(id => (id, s"video stub $id", "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("vds_craft").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // batch tier agrees on the crafted corpus — the differential anchor
    val batch = Multimodal.videoDedupIncr(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(batch(rejectId) == "dup_of_base" && batch(admitId) == "kept",
      s"fixture verdicts unexpected: $batch")
    val out = java.nio.file.Files.createTempDirectory("vds_craft_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("vds_craft_ckpt").toString
    val ts = Timestamp.valueOf("2026-01-01 10:00:00")
    val in = MemoryStream[(Long, Timestamp)]
    val q = VideoDedupStream.appendStream(
      in.toDF().toDF("media_id", "ingest_ts"),
      VideoDedupStream.frozenBaseFrames(spark, tmp), out, ckpt)
    try {
      in.addData((rejectId, ts), (admitId, ts))
      q.processAllAvailable()
      val admitted = spark.read.parquet(out).select("media_id")
        .as[Long].collect().toSet
      assert(admitted == Set(admitId),
        s"expected only far-family $admitId admitted, got $admitted")
    } finally q.stop()
  }

  test("video stream: a cross-epoch duplicate stays dropped when earlier epochs' output is gone") {
    import graft.streaming.VideoDedupStream
    // base: three family-2 videos; arrivals: family-8 videos, which no
    // base video contains (the family layout of the test above)
    val tmp = java.nio.file.Files.createTempDirectory("vds_epochs").toString
    (2L until 1000L by 3L).toDF("doc_id")
      .filter(col("doc_id") % 15 === 2 && graft.Exprs.arrivalSplit(col("doc_id"), 3) =!= 0)
      .limit(3)
      .select(col("doc_id"), lit("video").as("text"), lit("en").as("lang"),
        lit("s").as("source"), lit(5L).as("n_chars"))
      .write.parquet(s"$tmp/documents.parquet")
    val Seq(a, b, c) = (2L until 1000L by 3L).filter(_ % 15 == 8).take(3)
    val out = java.nio.file.Files.createTempDirectory("vds_epochs_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("vds_epochs_ckpt").toString
    val ts = Timestamp.valueOf("2026-01-01 10:00:00")
    val in = MemoryStream[(Long, Timestamp)]
    val q = VideoDedupStream.appendStream(in.toDF().toDF("media_id", "ingest_ts"),
      VideoDedupStream.frozenBaseFrames(spark, tmp), out, ckpt)
    // run one epoch, read what it admitted, then delete all output so far
    def epoch(ids: Long*): Set[Long] = {
      in.addData(ids.map((_, ts)))
      q.processAllAvailable()
      val got = spark.read.parquet(out).select("media_id").as[Long].collect().toSet
      new java.io.File(out).listFiles().foreach(LocalFs.rmrf)
      got
    }
    try {
      assert(epoch(a) == Set(a))
      assert(epoch(a, b) == Set(b), "an arrival admitted an epoch earlier must stay dropped")
      assert(epoch(a, b, c) == Set(c))
    } finally q.stop()
  }

  test("NB stream scorer with a lossless model matches the batch classifier exactly") {
    import graft.streaming.NbStream
    import graft.functions.TextOps
    val sfDir = sf()
    // lossless: topK far above testdata's vocabulary, so the map literals
    // carry every trained token and the row-local fold must reproduce the
    // batch argmin bit-for-bit (bits AND predicted bucket)
    val model = TextOps.nbFrozenModel(spark, sfDir, topK = 1 << 20)
    val batch = TextOps.nbClassify(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val ts = Timestamp.valueOf("2026-01-01 10:00:00")
    val in = MemoryStream[(Long, String, Timestamp)]
    val out = NbStream(in.toDF().toDF("doc_id", "text", "ingest_ts"), model)
    val q = out.writeStream.format("memory").queryName("nb_stream_t")
      .outputMode("append").start()
    in.addData(docs.map { case (id, t) => (id, t, ts) }.toSeq)
    q.processAllAvailable()
    val streamed = spark.table("nb_stream_t")
      .select("doc_id", "pred_bucket", "bits").as[(Long, String, Long)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    q.stop()
    assert(streamed.keySet == batch.keySet, "stream must score every document")
    val diverged = streamed.collect {
      case (id, v) if batch(id) != v => (id, v, batch(id))
    }
    assert(diverged.isEmpty, s"stream/batch divergence: ${diverged.take(3)}")
  }

  test("NB stream scorer: pruned model degrades to defaults, never to garbage") {
    import graft.streaming.NbStream
    import graft.functions.TextOps
    // topK=1 keeps ONE token per class; every other token pays the class
    // default. Predictions may change — but they must stay inside the
    // trained classes and the bit costs must stay positive.
    val model = TextOps.nbFrozenModel(spark, sf(), topK = 1)
    assert(model.forall(_.bits.size == 1), "pruning must keep one token per class")
    val classes = model.map(_.cls).toSet
    val ts = Timestamp.valueOf("2026-01-01 10:00:00")
    val in = MemoryStream[(Long, String, Timestamp)]
    val out = NbStream(in.toDF().toDF("doc_id", "text", "ingest_ts"), model)
    val q = out.writeStream.format("memory").queryName("nb_stream_p")
      .outputMode("append").start()
    in.addData((1L, "some arrival words entirely outside the pruned maps", ts))
    q.processAllAvailable()
    val rows = spark.table("nb_stream_p")
      .select("pred_bucket", "bits").as[(String, Long)].collect()
    q.stop()
    assert(rows.length == 1 && classes.contains(rows.head._1) && rows.head._2 > 0,
      s"pruned-model scoring broke: ${rows.toSeq}")
  }

  test("contam stream: per-arrival verdicts agree with the batch contamination relation") {
    import graft.streaming.ContamStream
    val sfDir = sf()
    val batch = graft.functions.TextOps.contamination(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val feed = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") >= 10)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val ts = Timestamp.valueOf("2026-01-01 10:00:00")
    val in = MemoryStream[(Long, String, Timestamp)]
    val out = ContamStream(in.toDF().toDF("doc_id", "text", "ingest_ts"),
      ContamStream.frozenProbes(spark, sfDir))
    val q = out.writeStream.format("memory").queryName("contam_stream")
      .outputMode("append").start()
    try {
      in.addData(feed.map { case (id, t) => (id, t, ts) })
      q.processAllAvailable()
      val got = spark.table("contam_stream")
        .select("doc_id", "top_probe_id", "n_shared_shingles", "contaminated")
        .as[(Long, Long, Long, Boolean)].collect()
      assert(got.length == feed.length, "every arrival gets a verdict")
      got.foreach { case (id, pid, n, flag) =>
        batch.get(id) match {
          case Some((bPid, bN)) =>
            assert((pid, n) == (bPid, bN),
              s"doc $id: stream ($pid,$n) vs batch ($bPid,$bN)")
            assert(flag == (n >= 5))
          case None =>
            assert(n == 0 && !flag, s"doc $id absent from batch must score 0: ($pid,$n)")
        }
      }
      // the alarm signal exists on testdata: some arrivals ARE contaminated
      assert(got.exists(_._4), "fixture must contain at least one contaminated arrival")
    } finally q.stop()
  }

  test("dup-span stream: base-run cuts match dupSpansIncr; within-stream dups stay (scope split)") {
    import graft.streaming.DupSpanStream
    import graft.functions.TextOps
    // derive split membership so the crafted corpus lands where intended
    val residues = spark.range(100).select(col("id").as("doc_id"))
      .withColumn("r", graft.Exprs.arrivalSplit(col("doc_id"), 5))
      .as[(Long, Long)].collect().toMap
    val baseIds = (0L until 100L).filter(residues(_) != 0)
    val deltaIds = (0L until 100L).filter(residues(_) == 0)
    assert(baseIds.nonEmpty && deltaIds.size >= 4, "fixture needs both splits")
    val Seq(d1, d2, d3, d4) = deltaIds.take(4)
    val docs = Seq(
      // base template owning the run "alpha beta gamma delta epsilon"
      (baseIds.head, "alpha beta gamma delta epsilon zeta eta"),
      // arrival sharing that run with BASE → positions 2-6 cut
      (d1, "one two alpha beta gamma delta epsilon three four"),
      // arrival sharing nothing → untouched
      (d2, "purely unique words here nothing shared at all ok"),
      // two arrivals sharing a run ONLY with each other — the stream must
      // NOT cut either (within-increment dedup is the batch compaction's
      // job); dupSpansIncr DOES cut the later one
      (d3, "red green blue cyan magenta yellow"),
      (d4, "red green blue cyan magenta crimson")
    ).map { case (id, t) => (id, t, "en", "s", 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("dss").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = java.nio.file.Files.createTempDirectory("dss_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("dss_ckpt").toString
    val frozen = DupSpanStream.frozenShingles(spark, tmp)
    val ts = Timestamp.valueOf("2026-01-01 10:00:00")
    val feed = Seq(d1, d2, d3, d4).map { id =>
      val t = docs.filter(col("doc_id") === id).select("text").as[String].head()
      (id, t, ts)
    }
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = DupSpanStream.appendStream(
      in.toDF().toDF("doc_id", "text", "ingest_ts"), frozen, out, ckpt)
    try {
      in.addData(feed)
      q.processAllAvailable()
      val got = spark.read.parquet(out)
        .select("doc_id", "n_words", "n_dup", "n_spans", "text_clean")
        .as[(Long, Long, Long, Long, String)].collect()
        .map(r => r._1 -> r).toMap
      assert(got(d1)._5 == "one two three four" && got(d1)._3 == 5 && got(d1)._4 == 1)
      assert(got(d2)._3 == 0 && got(d2)._5.startsWith("purely unique"))
      // scope split: within-stream duplicate run is NOT cut here...
      assert(got(d3)._3 == 0 && got(d4)._3 == 0,
        "stream must not cut within-increment runs")
      // ...but the batch incremental tier DOES cut the later of the pair
      val incr = TextOps.dupSpansIncr(spark, tmp)
        .select("doc_id", "n_dup").as[(Long, Long)].collect().toMap
      assert(incr(d3.min(d4)) == 0 && incr(d3.max(d4)) == 5,
        s"batch incr must cut the later within-delta twin: $incr")
      // and on the base-cut-only docs the two tiers agree row-for-row
      val incrFull = TextOps.dupSpansIncr(spark, tmp)
        .select("doc_id", "n_words", "n_dup", "n_spans", "text_clean")
        .as[(Long, Long, Long, Long, String)].collect()
        .map(r => r._1 -> r).toMap
      for (id <- Seq(d1, d2)) assert(got(id) == incrFull(id),
        s"stream/batch divergence on base-cut doc $id")
    } finally q.stop()
  }

  test("dup-span stream: a replayed epoch overwrites its partial write exactly once") {
    import graft.streaming.DupSpanStream
    val residues = spark.range(100).select(col("id").as("doc_id"))
      .withColumn("r", graft.Exprs.arrivalSplit(col("doc_id"), 5))
      .as[(Long, Long)].collect().toMap
    val baseId = (0L until 100L).find(residues(_) != 0).get
    val Seq(d1, d2, d3) = (0L until 100L).filter(residues(_) == 0).take(3)
    val docs = Seq(
      (baseId, "alpha beta gamma delta epsilon zeta eta"),
      (d1, "one two alpha beta gamma delta epsilon three four"), // cut
      (d2, "purely unique words here nothing shared at all ok"), // untouched
      (d3, "too short") // under n words: passes through
    ).map { case (id, t) => (id, t, "en", "s", 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("dss_replay").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = java.nio.file.Files.createTempDirectory("dss_replay_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("dss_replay_ckpt").toString
    val ts = Timestamp.valueOf("2026-01-01 10:00:00")
    val feed = docs.filter(col("doc_id") =!= baseId).select("doc_id", "text")
      .as[(Long, String)].collect().toSeq.map { case (id, t) => (id, t, ts) }
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = DupSpanStream.appendStream(in.toDF().toDF("doc_id", "text", "ingest_ts"),
      DupSpanStream.frozenShingles(spark, tmp), out, ckpt)
    def epoch(id: Int) = spark.read.parquet(out).filter(col("batch_id") === id)
      .select("doc_id", "n_words", "n_dup", "n_spans", "text_clean")
      .as[(Long, Long, Long, Long, String)].collect()
    try {
      in.addData(feed)
      q.processAllAvailable()
      val epoch0 = epoch(0)
      assert(epoch0.map(_._1).toSet == Set(d1, d2, d3) && epoch0.length == 3)
      assert(epoch0.exists(r => r._1 == d1 && r._3 == 5), "fixture must cut d1")
      // simulated crash replay: pre-seed the NEXT epoch's partition with a
      // PARTIAL write (the crash-between-write-and-commit state), then feed
      // the same arrivals — the replayed epoch must hold each row once and
      // leave epoch 0 as it was
      epoch0.take(2).toSeq.toDF("doc_id", "n_words", "n_dup", "n_spans", "text_clean")
        .write.parquet(s"$out/batch_id=1")
      in.addData(feed)
      q.processAllAvailable()
      val epoch1 = epoch(1)
      assert(epoch1.toSet == epoch0.toSet && epoch1.length == epoch0.length,
        "replayed epoch must complete exactly-once over its partial write")
      assert(epoch(0).toSet == epoch0.toSet && epoch(0).length == epoch0.length,
        "the replay must not touch epoch 0")
    } finally q.stop()
  }

  test("bloom stream: frozen-bitmap novelty matches a scala replica; base replays are fn-free; 2-batch feed equals 1-batch") {
    import graft.streaming.BloomStream
    val sfDir = sf()
    def hex60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val isDelta = (id: Long) => hex60(s"inc:$id") % 10 == 0
    def norm(t: String) = t.toLowerCase.replaceAll("\\s+", " ").trim
    def shinglesOf(t: String): Set[String] = {
      val ws = norm(t).split(" ", -1).toSeq
      if (ws.size >= 3) ws.sliding(3).map(_.mkString(" ")).toSet else Set(norm(t))
    }
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("source"))
      .as[(Long, String, String)].collect().toSeq
    val baseSh = docs.filter(d => !isDelta(d._1))
      .flatMap(d => Option(d._2).map(shinglesOf).getOrElse(Set.empty[String])).toSet
    val bits = baseSh.flatMap(s => (0 until BloomStream.KHash)
      .map(i => hex60(s"bf$i:$s") % BloomStream.M))
    val expect = docs.map { case (id, text, _) =>
      val sh = Option(text).map(shinglesOf).getOrElse(Set.empty[String])
      val nSeen = sh.count(s => (0 until BloomStream.KHash)
        .forall(i => bits(hex60(s"bf$i:$s") % BloomStream.M)))
      val novelPm = if (sh.nonEmpty) (sh.size - nSeen) * 1000L / sh.size else -1L
      id -> ((sh.size.toLong, nSeen.toLong, novelPm))
    }.toMap
    val words = BloomStream.bitmapWords(spark, sfDir)
    def run(batches: Seq[Seq[(Long, String, String)]], name: String)
      : Map[Long, (Long, Long, Long)] = {
      val in = MemoryStream[(Long, String, String)]
      val out = BloomStream.novelty(
        in.toDF().toDF("doc_id", "text", "source"), words)
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        batches.foreach { b => in.addData(b); q.processAllAvailable() }
        spark.table(name)
          .select(col("doc_id"), col("n_shingles").cast("long"),
            col("n_seen").cast("long"), col("novel_pm"))
          .as[(Long, Long, Long, Long)].collect()
          .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      } finally q.stop()
    }
    val (a, b) = docs.splitAt(docs.size / 2)
    val twoBatch = run(Seq(a, b), "bloom_stream_2b")
    assert(twoBatch == expect,
      s"stream novelty diverges from the replica: stream-only=${
        (twoBatch.toSet diff expect.toSet).take(3)} replica-only=${
        (expect.toSet diff twoBatch.toSet).take(3)}")
    // no false negatives: a base doc's shingles are ALL in the filter, so
    // its replay reads novel_pm 0 (or the -1 empty sentinel)
    docs.filter(d => !isDelta(d._1)).foreach { case (id, _, _) =>
      val pm = twoBatch(id)._3
      assert(pm == 0L || pm == -1L, s"base doc $id reads novel_pm $pm != 0")
    }
    // the probe is stateless (the filter is a plan literal): feeding the
    // same rows in one batch must be row-identical
    assert(run(Seq(docs), "bloom_stream_1b") == twoBatch,
      "stateless probe must be batching-insensitive")
  }

  test("quantile len gate: frozen p990 threshold gates arrivals in-stream, verdicts equal the batch lenCap rule on a 2-batch feed") {
    import graft.streaming.QuantileStream
    import graft.functions.TextOps
    val sfDir = sf()
    // the frozen artifact: the batch sketch's p990 estimate per source —
    // exactly what d_len_cap serves as thr_sketch, via the PRODUCTION
    // freeze (collected |sources|-row local relation; passing the lazy
    // sketch DataFrame instead would re-run the sketch build inside
    // every micro-batch — GatePlanSpec pins the frozen plan)
    val thr = QuantileStream.frozenThresholds(spark, sfDir)
    // batch verdicts: v > thr_sketch per doc (the d_len_cap cut rule) —
    // LEFT join + coalesce to the ungated MaxValue, mirroring the gate's
    // own unseen-source branch (an inner join here would silently drop a
    // source lacking a p990 row from the expectation instead of testing
    // the pass-ungated contract)
    val expect = TextOps.prepared(spark, sfDir)
      .select(col("doc_id"), col("source"),
        coalesce(size(col("words")).cast("long"), lit(0L)).as("v"))
      .join(thr, Seq("source"), "left")
      .select(col("doc_id"),
        (col("v") > coalesce(col("thr"), lit(Long.MaxValue))).as("over"))
      .as[(Long, Boolean)].collect().toMap
    // plus a source ABSENT from the frozen sketch: however long, it must
    // pass ungated (the conservative admission default)
    val unseenId = expect.keys.max + 1
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("source"))
      .as[(Long, String, String)].collect().toSeq :+
      ((unseenId, Seq.fill(100000)("w").mkString(" "), "src_unseen_by_sketch"))
    val in = MemoryStream[(Long, String, String)]
    val out = QuantileStream.lenGate(
      in.toDF().toDF("doc_id", "text", "source"), thr)
    val q = out.writeStream.format("memory").queryName("len_gate")
      .outputMode("append").start()
    try {
      val (a, b) = docs.splitAt(docs.size / 2)
      Seq(a, b).foreach { batch => in.addData(batch); q.processAllAvailable() }
      val got = spark.table("len_gate")
        .select(col("doc_id"), col("over_cap"))
        .as[(Long, Boolean)].collect().toMap
      assert(got.get(unseenId).contains(false),
        s"a 100k-token doc from a sketch-unseen source must pass ungated: ${
          got.get(unseenId)}")
      assert(got - unseenId == expect,
        s"stream gate diverges from batch lenCap verdicts: stream-only=${
          ((got - unseenId).toSet diff expect.toSet).take(3)} batch-only=${
          (expect.toSet diff (got - unseenId).toSet).take(3)}")
      assert(got.values.exists(identity),
        "fixture must exercise the over-cap branch (p990 cuts the tail)")
    } finally q.stop()
  }

  test("dir gate: stream verdicts equal the registered v_dir_gate anchor's at the deployed 0.99, including the rounding boundary band") {
    import graft.streaming.DirGateStream
    import graft.functions.VectorOps
    // r19 VERDICT seam: the stream gated on UNROUNDED dp while the batch
    // anchor rounds to 4 decimals first, so a vector with raw |dp| in
    // [0.98995, 0.99) was flagged by v_dir_gate but passed by the stream.
    // This pin compares the stream against the REGISTERED anchor's output
    // at the deployed thr = 0.99, on a cloud that EXERCISES that band:
    //   - 800 exact copies of e1 (dp = 1 — the true branch, and they pin
    //     the power-iteration direction to e1 exactly: every off-axis avg
    //     contribution is < the 4-decimal rounding quantum, so the frozen
    //     direction is (1, 0, ..., 0) and the fixture's dp is by design)
    //   - one BOUNDARY vector at t = 0.98997 along e1, orthogonal rest
    //     spread over dims 2..64: raw dp ∈ [0.98995, 0.99) → rounds to
    //     0.9900 → the anchor flags it; an unrounded stream would not
    //   - three pure e2/e3/e4 vectors (dp = 0 — the false branch)
    val dim = 64
    val t = 0.98997
    val s = math.sqrt(1.0 - t * t)
    def axis(d: Int): Seq[Float] =
      Seq.tabulate(dim)(i => if (i == d) 1.0f else 0.0f)
    val boundary: Seq[Float] =
      (t.toFloat +: Seq.fill(dim - 1)((s / math.sqrt((dim - 1).toDouble)).toFloat))
    val rows =
      (0 until 800).map(i => (i.toLong, axis(0), 0)) ++
        Seq((800L, boundary, 1)) ++
        (1 to 3).map(k => (800L + k, axis(k), 2))
    val tmp = java.nio.file.Files.createTempDirectory("dirgate").toString
    spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val u = DirGateStream.frozenDirection(spark, tmp)
    // fixture-design guards: the frozen direction must be e1 exactly, and
    // the boundary vector's RAW score must land inside the seam band
    assert(u.head == 1.0 && u.tail.forall(_ == 0.0),
      s"cloud must pin the power-iteration direction to e1: ${u.take(4)}")
    val bd = boundary.map(_.toDouble)
    val rawDp = bd.head / math.sqrt(bd.map(x => x * x).sum)
    assert(rawDp >= 0.98995 && rawDp < 0.99,
      s"boundary fixture must sit in [0.98995, 0.99): $rawDp")
    // the registered anchor's rows at the deployed threshold
    val anchor = VectorOps.dirGate(spark, tmp)
      .select(col("vec_id"), col("dp"), col("boilerplate"))
      .as[(Long, Double, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val vecs = VectorOps.prepared(spark, tmp)
      .select(col("vec_id"), col("v"))
      .as[(Long, Seq[Double])].collect().toSeq
    val in = MemoryStream[(Long, Seq[Double])]
    val out = DirGateStream(in.toDF().toDF("vec_id", "v"), u)
    val q = out.writeStream.format("memory").queryName("dir_gate")
      .outputMode("append").start()
    try {
      val (a, b) = vecs.splitAt(vecs.size / 2)
      Seq(a, b).foreach { batchFeed => in.addData(batchFeed); q.processAllAvailable() }
      val got = spark.table("dir_gate")
        .select(col("vec_id"), col("dp"), col("boilerplate"))
        .as[(Long, Double, Boolean)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      // stream (dp, verdict) == the anchor's, per vec_id — the contract
      // the gate family makes ("stream ≡ frozen batch artifact")
      assert(got == anchor,
        s"stream diverges from the v_dir_gate anchor: stream-only=${
          (got.toSet diff anchor.toSet).take(3)} anchor-only=${
          (anchor.toSet diff got.toSet).take(3)}")
      // the seam case specifically: the boundary vector is flagged by BOTH
      assert(got(800L) == ((0.99, true)),
        s"boundary-band vector must be flagged at the deployed 0.99: ${got(800L)}")
      assert(got.values.exists(_._2) && got.values.exists(!_._2),
        "fixture must exercise both gate branches")
    } finally q.stop()

    // and on the real table: the stream still equals the registered anchor
    // (healthy testdata sits far from the boundary — max |dp| ~0.85)
    val sfDir = sf()
    val uR = DirGateStream.frozenDirection(spark, sfDir)
    val anchorR = VectorOps.dirGate(spark, sfDir)
      .select(col("vec_id"), col("dp"), col("boilerplate"))
      .as[(Long, Double, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val vecsR = VectorOps.prepared(spark, sfDir)
      .select(col("vec_id"), col("v"))
      .as[(Long, Seq[Double])].collect().toSeq
    val inR = MemoryStream[(Long, Seq[Double])]
    val outR = DirGateStream(inR.toDF().toDF("vec_id", "v"), uR)
    val qR = outR.writeStream.format("memory").queryName("dir_gate_real")
      .outputMode("append").start()
    try {
      inR.addData(vecsR); qR.processAllAvailable()
      val gotR = spark.table("dir_gate_real")
        .select(col("vec_id"), col("dp"), col("boilerplate"))
        .as[(Long, Double, Boolean)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      assert(gotR == anchorR,
        s"stream diverges from the anchor on the real table: ${
          (gotR.toSet diff anchorR.toSet).take(3)}")
    } finally qR.stop()
  }

  test("dir gate: stream (dp, verdict) equals the registered anchor's on seeded random clouds") {
    import graft.streaming.DirGateStream
    import graft.functions.VectorOps
    // Regression canary beside the crafted-cloud pin above: the crafted
    // fixture exercises the rounding boundary band with a known geometry;
    // THIS pin holds stream ≡ anchor on arbitrary (seeded) data, so a
    // future edit to either side — the anchor's expression, the stream's
    // literal fold, the frozen-direction build — that breaks the identity
    // fails even if it happens to preserve the crafted fixture's answers.
    // Cloud shape per seed: a dominant planted direction (many exact
    // copies → the gate's true branch after power iteration converges to
    // it), gaussian noise (false branch), one zero vector (both engines
    // must EXCLUDE it — the `prepared`/`nrm > 0` contract), at a dim far
    // from the testdata's 64 so nothing can silently assume that width.
    for (seed <- Seq(7L, 23L)) {
      val rnd = new scala.util.Random(seed)
      val dim = 16
      val planted = {
        val raw = Array.fill(dim)(rnd.nextGaussian())
        val n = math.sqrt(raw.map(x => x * x).sum)
        raw.map(x => (x / n).toFloat).toSeq
      }
      val rows =
        (0 until 300).map(i => (i.toLong, planted, 0)) ++
          (0 until 60).map(i => (300L + i,
            Seq.fill(dim)((rnd.nextGaussian() * 0.5).toFloat), 1)) :+
          ((360L, Seq.fill(dim)(0.0f), 2))
      val tmp = java.nio.file.Files
        .createTempDirectory(s"dirgate_rnd$seed").toString
      spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      val u = DirGateStream.frozenDirection(spark, tmp)
      val anchor = VectorOps.dirGate(spark, tmp)
        .select(col("vec_id"), col("dp"), col("boilerplate"))
        .as[(Long, Double, Boolean)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      // the planted copies must trip the gate (direction converged onto
      // them) and the zero vector must be absent on the batch side too —
      // fixture-design guards so the equality below can't pass vacuously
      assert(anchor(0L)._2, s"seed $seed: planted copies must be flagged")
      assert(anchor.values.exists(!_._2), s"seed $seed: noise must pass")
      assert(!anchor.contains(360L), s"seed $seed: zero vector must be excluded")
      val vecs = rows.filter(_._3 != 2)
        .map { case (id, v, _) => (id, v.map(_.toDouble)) }
      val in = MemoryStream[(Long, Seq[Double])]
      val out = DirGateStream(in.toDF().toDF("vec_id", "v"), u)
      val q = out.writeStream.format("memory")
        .queryName(s"dir_gate_rnd$seed").outputMode("append").start()
      try {
        in.addData(vecs :+ (360L, Seq.fill(dim)(0.0)))
        q.processAllAvailable()
        val got = spark.table(s"dir_gate_rnd$seed")
          .select(col("vec_id"), col("dp"), col("boilerplate"))
          .as[(Long, Double, Boolean)].collect()
          .map(r => r._1 -> (r._2, r._3)).toMap
        assert(got == anchor,
          s"seed $seed: stream diverges from the anchor: stream-only=${
            (got.toSet diff anchor.toSet).take(3)} anchor-only=${
            (anchor.toSet diff got.toSet).take(3)}")
      } finally q.stop()
    }
  }

  test("margin stream: one-batch feed mines pair-for-pair what marginPairsIncr mines") {
    import graft.streaming.MarginStream
    val sfDir = sf("sf0.01") // the delta A split at sf0.001 mines nothing
    val batch = graft.functions.VectorOps.marginPairsIncr(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(batch.nonEmpty, "fixture must mine at least one pair")
    val delta = graft.functions.VectorOps.prepared(spark, sfDir)
      .filter(pmod(col("label"), lit(2)) === 0 &&
        graft.Exprs.arrivalSplit(col("vec_id"), 5) === 0)
      .select(col("vec_id"), col("v")).as[(Long, Seq[Double])].collect()
    val out = java.nio.file.Files.createTempDirectory("margin_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("margin_ckpt").toString
    val ts = Timestamp.valueOf("2026-01-01 10:00:00")
    val in = MemoryStream[(Long, Seq[Double], Timestamp)]
    val q = MarginStream.appendStream(in.toDF().toDF("vec_id", "v", "ingest_ts"),
      MarginStream.frozenTarget(spark, sfDir), out, ckpt)
    try {
      in.addData(delta.map { case (id, v) => (id, v, ts) })
      q.processAllAvailable()
      val got = spark.read.parquet(out)
        .select("a_id", "b_id", "cos_sim", "margin")
        .as[(Long, Long, Double, Double)].collect().toSet
      assert(got == batch,
        s"stream/batch divergence: stream-only=${got -- batch}, batch-only=${batch -- got}")
      // simulated crash replay: pre-seed the NEXT epoch's partition with
      // a PARTIAL write (the crash-between-write-and-commit state), then
      // feed the same arrivals — the epoch overwrites its own batch_id=1
      // directory, so the partial rows are replaced rather than duplicated,
      // and epoch 0 is left untouched (per-batch replay cost stays O(batch))
      val partial = batch.take(batch.size / 2 max 1).toSeq
      partial.toDF("a_id", "b_id", "cos_sim", "margin")
        .write.parquet(s"$out/batch_id=1")
      in.addData(delta.map { case (id, v) => (id, v, ts) })
      q.processAllAvailable()
      val epoch1 = spark.read.parquet(out).filter(col("batch_id") === 1)
        .select("a_id", "b_id", "cos_sim", "margin")
        .as[(Long, Long, Double, Double)].collect()
      assert(epoch1.toSet == batch && epoch1.length == batch.size,
        "replayed epoch must complete exactly-once over its partial write")
      assert(spark.read.parquet(out).count() == 2L * batch.size,
        "replay completion must not disturb prior epochs")
    } finally q.stop()
  }
}
