package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.DocStream

/** Executable end-to-end DOCUMENT ingest demo — the training-data twin of
  * [[RunPipeline]]: replay the documents table as JSON records through a
  * file stream (the offline stand-in for an upload/crawl topic), run the
  * streaming curation front-end (language + quality gates, then
  * watermark-bounded content dedup), and land the kept stream in parquet.
  *
  * Usage: runMain graft.RunDocPipeline [sfDir] [workDir]
  */
object RunDocPipeline {

  /** Stages that reported a sentinel this run — surfaced as the JSON
    * line's `degraded_stages` field so a consumer of the artifact knows
    * which readouts are placeholders WITHOUT scraping stderr (a curate
    * timeout would otherwise leave plausible-looking downstream counts
    * beside one log line). Synchronized: stages run sequentially today,
    * but guarded is also called from specs.
    */
  private val degradedStages =
    java.util.Collections.synchronizedList(new java.util.ArrayList[String]())

  /** Demo-stage guard: a failed stage reports its sentinel so the JSON
    * line still prints, but NEVER silently — the exception class + message
    * go to stderr first, so `images_kept: 0` from a broken stage is
    * distinguishable from an empty corpus (the `Tables.scala` timestamp-
    * probe rule: make the fallback visible).
    */
  private[graft] def guarded[T](stage: String, sentinel: => T)(body: => T): T =
    try body catch {
      case scala.util.control.NonFatal(e) =>
        // NonFatal only: OutOfMemoryError / LinkageError must propagate,
        // not print a plausible-looking JSON line after a fatal condition
        Console.err.println(s"[docpipeline] stage '$stage' failed " +
          s"(${e.getClass.getName}: ${e.getMessage}); reporting sentinel")
        degradedStages.add(stage)
        sentinel
    }

  private[graft] def degradedJson: String = {
    import scala.jdk.CollectionConverters._
    degradedStages.asScala.map("\"" + _ + "\"").mkString("[", ",", "]")
  }

  /** One parquet stage: run `df` as an AvailableNow query into `path`
    * (checkpoint `ckpt`), [[LocalFs.drain]] it, and read back what landed;
    * a drain timeout raises into [[guarded]]'s loud sentinel path.
    */
  private def landed(df: DataFrame, path: String, ckpt: String, stage: String): DataFrame = {
    val q = LocalFs.startStream(df, ckpt)(_.format("parquet")
      .option("path", path)
      .outputMode("append")
      .trigger(Trigger.AvailableNow()))
    LocalFs.drain(q, stage)
    df.sparkSession.read.parquet(path)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val workDir = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft_docs").toString)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // producer side: documents → JSON lines with a synthetic ingest time
    // derived from doc_id (deterministic, monotone — a replayed queue)
    Tables.documents(spark, sfDir)
      .select(to_json(struct(
        col("doc_id"), col("text"), col("source"),
        (lit("2026-01-01 00:00:00").cast("timestamp") +
          make_dt_interval(days = lit(0), hours = lit(0), mins = lit(0),
            secs = col("doc_id").cast("double"))).as("ingest_ts"))).as("value"))
      .write.mode(SaveMode.Overwrite).text(s"$workDir/in")

    val raw = spark.readStream.schema("value STRING").text(s"$workDir/in")
    val docSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, source STRING, ingest_ts TIMESTAMP")
    val docs = raw.select(from_json(col("value"), docSchema).as("d"))
      .select("d.*")
    guarded("curate_stream", ()) {
      landed(DocStream.curateStream(docs), s"$workDir/out", s"$workDir/ckpt", "curate_stream")
      ()
    }

    // second hop (the reference chains jobs through topics the same way):
    // curated stream → per-source token-quota admission → decision log.
    // A separate query also sidesteps the stateful-chaining restriction
    // (dedup state and quota state live in different checkpoints).
    import graft.streaming.QuotaStream
    import graft.streaming.QuotaStream.QDoc
    import spark.implicits._
    val curated = spark.readStream
      .schema("doc_id BIGINT, ingest_ts TIMESTAMP, source STRING, " +
        "pred_lang STRING, quality_bucket STRING, text_md5 STRING, n_tokens BIGINT")
      .parquet(s"$workDir/out")
      .select(col("doc_id"), col("source"), col("n_tokens").as("tok"), col("ingest_ts"))
      .as[QDoc]
    val quota = sys.env.getOrElse("GRAFT_QUOTA", "600").toLong
    guarded("quota_stream", ()) {
      landed(QuotaStream(curated, quota)(spark).toDF(), s"$workDir/decisions", s"$workDir/ckpt2",
        "quota_stream")
      ()
    }

    // streaming tail: admitted docs walk into token-budgeted shards via
    // the epoch-fold append (ShardStream) — the streaming counterpart of
    // the batch corpusBuild below. Decisions carry no content hash, so the
    // admitted stream joins the (by now fully written) curated parquet
    // stream-static on doc_id for text_md5.
    // the whole tail is defensive like every other read in this main: if
    // curation kept zero docs (empty/missing out dir) the demo must still
    // print its JSON line with 0 counts, not crash on the static read
    import graft.streaming.ShardStream
    val (sShards, sTokens) = guarded("stream_shards", (0L, 0L)) {
      val curatedStatic = spark.read.parquet(s"$workDir/out")
        .select(col("doc_id"), col("text_md5"))
      val admittedStream = spark.readStream
        .schema("doc_id BIGINT, source STRING, tok BIGINT, " +
          "admitted BOOLEAN, admitted_tok BIGINT")
        .parquet(s"$workDir/decisions")
        .filter(col("admitted"))
        .join(curatedStatic, "doc_id")
        .select(col("doc_id"), col("source"), col("text_md5"),
          col("tok").as("n_tokens"))
      val q3 = ShardStream.appendStream(admittedStream,
        s"$workDir/stream_shards", s"$workDir/ckpt3")
      try { q3.processAllAvailable() } finally q3.stop()
      val sm = spark.read.parquet(s"$workDir/stream_shards/manifest")
      (sm.count(), sm.agg(sum("n_tokens")).collect()(0).getLong(0))
    }

    // image tier of the same ingest: the media stream (image ids of this
    // corpus snapshot) deduped on the perceptual hash in-flight — the
    // multimodal twin of the text curation stage above, same defensive
    // wrapper so an empty corpus still prints the JSON line
    val imagesKept = guarded("image_dedup", 0L) {
      import graft.streaming.ImageDedupStream
      val mediaIn = Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id").as("media_id"),
          current_timestamp().as("ingest_ts"))
      mediaIn.write.mode(SaveMode.Overwrite).parquet(s"$workDir/media_in")
      val mediaStream = spark.readStream
        .schema("media_id BIGINT, ingest_ts TIMESTAMP")
        .parquet(s"$workDir/media_in")
      landed(ImageDedupStream(mediaStream), s"$workDir/media_kept", s"$workDir/ckpt4",
        "image_dedup").count()
    }

    // caption-consistency gate over the image tier: media whose caption
    // is MinHash-near another image's caption while the images themselves
    // are NOT perceptually near — template alt-text / SEO boilerplate,
    // supervision noise a contrastive corpus cuts (the batch
    // mm_caption_mismatch relation folded to a flagged-media count)
    val captionMismatchMedia = guarded("caption_mismatch", 0L) {
      val p = graft.multimodal.Multimodal.captionMismatch(spark, sfDir)
      p.select(col("id_a").as("id")).unionAll(p.select(col("id_b").as("id")))
        .distinct().count()
    }

    // video tier of the same ingest: the delta videos stream through
    // frozen-base containment admission per micro-batch (the batch
    // containment fold shared verbatim) — the temporal-media twin of the
    // image stage above, same defensive wrapper
    val videosAdmitted = guarded("video_dedup", 0L) {
      import graft.streaming.VideoDedupStream
      import graft.multimodal.Multimodal
      val deltaVideos = Multimodal.videoDedupIncr(spark, sfDir)
        .select(col("video_id").as("media_id"))
      deltaVideos.select(col("media_id"), current_timestamp().as("ingest_ts"))
        .write.mode(SaveMode.Overwrite).parquet(s"$workDir/video_in")
      val videoStream = spark.readStream
        .schema("media_id BIGINT, ingest_ts TIMESTAMP")
        .parquet(s"$workDir/video_in")
      val q7 = VideoDedupStream.appendStream(videoStream,
        VideoDedupStream.frozenBaseFrames(spark, sfDir),
        s"$workDir/video_admitted", s"$workDir/ckpt7")
      try { q7.processAllAvailable() } finally q7.stop()
      spark.read.parquet(s"$workDir/video_admitted").count()
    }

    // embedding tier of the same ingest: the corpus delta's embeddings
    // (salted split — the same "arrived since the last build" sample the
    // incremental index/dedup operators use) stream through semantic
    // admission against the frozen base bucket index — the vector twin of
    // the image stage above, same defensive wrapper
    val vectorsAdmitted = guarded("vector_admission", 0L) {
      import graft.streaming.VectorDedupStream
      import graft.functions.VectorOps
      val vecIn = VectorOps.prepared(spark, sfDir)
        .filter(Exprs.arrivalSplit(col("vec_id"), 5) === 0)
        .select(col("vec_id"), col("v"), current_timestamp().as("ingest_ts"))
      vecIn.write.mode(SaveMode.Overwrite).parquet(s"$workDir/vec_in")
      val vecStream = spark.readStream
        .schema("vec_id BIGINT, v ARRAY<DOUBLE>, ingest_ts TIMESTAMP")
        .parquet(s"$workDir/vec_in")
      landed(VectorDedupStream(vecStream, VectorDedupStream.frozenBase(spark, sfDir)),
        s"$workDir/vec_admitted", s"$workDir/ckpt5", "vector_dedup").count()
    }

    // alignment-mining tier of the same ingest: the source-parity slice of
    // the vec delta (already landed at vec_in by the stage above) mined
    // against the frozen target side per micro-batch — the MarginStream
    // online form of the daily margin job; readout is the mined-pair count
    val pairsMined = guarded("margin_mining", 0L) {
      import graft.streaming.MarginStream
      import graft.functions.VectorOps
      val srcStream = spark.readStream
        .schema("vec_id BIGINT, v ARRAY<DOUBLE>, ingest_ts TIMESTAMP")
        .parquet(s"$workDir/vec_in")
      // A parity only (even label): re-derive it from the frozen snapshot,
      // the stream payload carries no label column
      val aIds = VectorOps.prepared(spark, sfDir)
        .filter(pmod(col("label"), lit(2)) === 0).select("vec_id")
      val q8 = MarginStream.appendStream(
        srcStream.join(aIds, "vec_id"),
        MarginStream.frozenTarget(spark, sfDir),
        s"$workDir/pairs_mined", s"$workDir/ckpt8")
      try { q8.processAllAvailable() } finally q8.stop()
      // distinct (a_id, b_id): epoch-scoped replay dedup inside the stream
      // means a re-fed arrival in a later epoch can append the same pair
      // twice; the readout stays replay-robust by counting pairs, not rows
      spark.read.parquet(s"$workDir/pairs_mined")
        .select("a_id", "b_id").distinct().count()
    }

    // anisotropy tier of the same ingest: the batch power-iteration top
    // direction (the v_anisotropy monitor's frozen artifact) rides the
    // arrival plan as a broadcast literal and every vector gets a
    // row-local boilerplate-direction score — zero state, zero shuffle
    // (the len_gate pattern for vectors); readout is the count of
    // arrivals flagged as mostly-common-direction at the deployed 0.99
    // threshold
    val dirGated = guarded("dir_gate", 0L) {
      import graft.streaming.DirGateStream
      val u = DirGateStream.frozenDirection(spark, sfDir)
      val vecStream = spark.readStream
        .schema("vec_id BIGINT, v ARRAY<DOUBLE>, ingest_ts TIMESTAMP")
        .parquet(s"$workDir/vec_in")
      landed(DirGateStream(vecStream, u), s"$workDir/dir_gate", s"$workDir/ckpt13", "dir_gate")
        .filter(col("boilerplate")).count()
    }

    // decontamination tier of the same ingest: every raw arrival tagged
    // against the frozen benchmark probe set (row-local literal-compiled
    // gate — zero state); readout is the quarantine count, which doubles
    // as the contamination-rate alarm
    val contaminated = guarded("contam_gate", 0L) {
      import graft.streaming.ContamStream
      val probes = ContamStream.frozenProbes(spark, sfDir)
      landed(ContamStream(docs, probes), s"$workDir/contam_tags", s"$workDir/ckpt9",
        "contam_gate").filter(col("contaminated")).count()
    }

    // novelty screen of the same ingest, zero-state form: the base
    // corpus's Bloom bitmap rides the arrival plan as an 8 KB literal and
    // every DELTA arrival gets a row-local shingle-novelty verdict (no
    // join, no shuffle, no keyed state); readout is the count of
    // mostly-novel arrivals (novel_pm >= 500) — the "is this crawl batch
    // fresh" answer before anything pays the exact base index
    val novelDocs = guarded("bloom_gate", 0L) {
      import graft.streaming.BloomStream
      val words = BloomStream.bitmapWords(spark, sfDir)
      val delta = docs.filter(Exprs.arrivalSplit(col("doc_id"), 10) === 0)
        .select("doc_id", "text", "source")
      landed(BloomStream.novelty(delta, words), s"$workDir/bloom_novelty", s"$workDir/ckpt11",
        "bloom_gate").filter(col("novel_pm") >= 500).count()
    }

    // length-admission tier of the same ingest: the batch quantile
    // sketch's p990 per source is frozen into a broadcast (source, thr)
    // relation — COLLECTED once (frozenThresholds), so the micro-batch
    // plan broadcasts a LocalTableScan instead of re-running the sketch
    // build chain per batch — and every raw arrival gets a row-local
    // over-cap verdict (zero keyed state — the d_len_cap cut applied
    // in-stream); readout is the count of over-length arrivals the gate
    // would truncate
    val lenGated = guarded("len_gate", 0L) {
      import graft.streaming.QuantileStream
      val thr = QuantileStream.frozenThresholds(spark, sfDir)
      landed(QuantileStream.lenGate(docs.select("doc_id", "text", "source"), thr),
        s"$workDir/len_gate", s"$workDir/ckpt12", "len_gate").filter(col("over_cap")).count()
    }

    // memorization-risk tier of the same ingest: every raw arrival has
    // its n-token runs already present in the frozen base substring index
    // cut out in-flight (stream-static join, epoch-partitioned output);
    // readout is the total tokens cut — the verbatim-duplication alarm
    val spanTokensCut = guarded("dup_span_cut", 0L) {
      import graft.streaming.DupSpanStream
      val frozen = DupSpanStream.frozenShingles(spark, sfDir)
      // ARRIVALS only (the delta split): a base doc re-fed through the
      // gate would trivially self-match its own frozen shingles
      val q10 = DupSpanStream.appendStream(
        docs.filter(Exprs.arrivalSplit(col("doc_id"), 5) === 0), frozen,
        s"$workDir/span_cut", s"$workDir/ckpt10")
      try { q10.processAllAvailable() } finally q10.stop()
      spark.read.parquet(s"$workDir/span_cut")
        .agg(coalesce(sum(col("n_dup")), lit(0L))).collect()(0).getLong(0)
    }

    // classifier tier of the same ingest: every raw arrival tagged with
    // its predicted quality bucket by the FROZEN NB model (trained batch-
    // side on this snapshot, applied row-locally in-flight — zero state,
    // zero shuffle). The deployment readout is the predicted-bucket
    // histogram; same defensive wrapper as every stage.
    val (nbScored, nbTopBucket, nbTopCount) = guarded("nb_scoring", (0L, "none", 0L)) {
      import graft.streaming.NbStream
      val model = graft.functions.TextOps.nbFrozenModel(spark, sfDir)
      val scored = landed(NbStream(docs, model), s"$workDir/nb_scored", s"$workDir/ckpt6",
        "nb_scoring")
      val hist = scored.groupBy("pred_bucket").count()
        .orderBy(col("count").desc, col("pred_bucket")).collect()
      (scored.count(), hist.head.getString(0), hist.head.getLong(1))
    }

    val kept = guarded("curated_count", 0L) {
      spark.read.parquet(s"$workDir/out").count()
    }
    val (admitted, rejected) = guarded("quota_decisions", (0L, 0L)) {
      val d = spark.read.parquet(s"$workDir/decisions")
      (d.filter(col("admitted")).count(), d.filter(!col("admitted")).count())
    }
    val total = Tables.documents(spark, sfDir).count()

    // third stage — the BATCH corpus build artifact: the full composed
    // chain (curate → exact+near dedup → decontam-span strip → quality
    // tiers → mix rebalance → token-budgeted shard walk) WRITTEN as
    // size-budgeted shard files plus the manifest relation a downstream
    // trainer consumes. The manifest is the oracle-checked
    // `d_shard_manifest` query — what lands on disk is what the
    // differential harness graded.
    import graft.functions.MixOps
    val budget = sys.env.getOrElse("GRAFT_SHARD_BUDGET", "500").toLong
    MixOps.corpusBuild(spark, sfDir, budget = budget)
      .write.mode(SaveMode.Overwrite)
      .partitionBy("shard_id").parquet(s"$workDir/shards")
    MixOps.shardManifest(spark, sfDir, budget = budget)
      .write.mode(SaveMode.Overwrite).parquet(s"$workDir/manifest")
    val m = spark.read.parquet(s"$workDir/manifest")
    val nShards = m.count()
    val shardDocs = m.agg(sum("n_docs")).collect()(0).getLong(0)
    val shardTokens = m.agg(sum("n_tokens")).collect()(0).getLong(0)

    // the temperature-flattened corpus variant: the SAME composed chain
    // with the α=½ source flattening inserted between dedup/decontam and
    // the shard walk (sampling runs over the survivor set — dedup first,
    // then flatten, the production stage order). Written next to the
    // proportional build so a trainer picks its mix per run.
    val tempBudget = sys.env.getOrElse("GRAFT_TEMP_BUDGET", "200").toLong
    MixOps.corpusBuild(spark, sfDir, budget = budget,
        tempBudget = Some(tempBudget))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("shard_id").parquet(s"$workDir/shards_temp")
    val mt = spark.read.parquet(s"$workDir/shards_temp")
    val tempDocs = mt.count()
    val tempShards = mt.select("shard_id").distinct().count()
    val tempTokens =
      if (tempDocs == 0) 0L
      else mt.agg(sum("tok")).collect()(0).getLong(0)

    // arrival monitors over the same corpus snapshot: the gate a daily
    // increment checks BEFORE admitting sources — worst per-source quality
    // drift and the count of degraded sources (drift below -100‰), plus
    // the tokenizer-fit drift. Defensive like every stage: monitors must
    // never sink the demo.
    import graft.functions.{Bpe, TextOps}
    val (worstQDrift, degradedSources, worstBpeDrift) = guarded("arrival_monitors", (0L, 0L, 0L)) {
      val qd = TextOps.qualityDriftIncr(spark, sfDir)
        .select(col("drift_pm")).filter(col("drift_pm").isNotNull)
      val worst = qd.agg(min("drift_pm")).collect()(0).getLong(0)
      val degraded = qd.filter(col("drift_pm") < -100).count()
      val bd = Bpe.bpeDrift(spark, sfDir)
        .select(col("drift_pm")).filter(col("drift_pm").isNotNull)
      val worstB = bd.agg(max("drift_pm")).collect()(0).getLong(0)
      (worst, degraded, worstB)
    }
    // the monitor's ACTION twin + the cardinality sketch, same snapshot:
    // how many sources the rate-restoring threshold retune would actually
    // move (delta keep-rate off base by >100‰ at the deployed gate), and
    // the largest per-source vocabulary estimate the k-longs-per-source
    // KMV state serves (testdata sources share one vocabulary, so max is
    // the headline; a union sketch would merge the k-min lists instead)
    // hh_worst_over_pm: the Count-Min sketch's worst over-count permille
    // across the top-20 terms — the fidelity number that says whether the
    // depth×width serving state is sized right for this corpus (0 = the
    // sketch is currently exact on every headline term)
    // len_cap_worst_delta_pm: the quantile sketch's worst per-source
    // mis-cut permille when its p990 serves as the truncation threshold
    // (0 = the k-pairs-per-source state currently cuts exactly what the
    // full-sort exact threshold would)
    // bloom_fp_pm / bloom_saved_pm: the membership sketch's false-positive
    // permille among genuinely-novel probe shingles and the share of the
    // exact base-index join the prefilter skips, at the default (m, k) —
    // together the go/no-go on serving the ingest overlap screen from an
    // m-bit broadcast bitmap instead of the full shingle index
    val (requotaMoved, vocabEst, hhWorstOverPm, lenCapWorstDeltaPm,
         bloomFpPm, bloomSavedPm) =
      guarded("retune_monitors", (0L, 0L, 0L, 0L, 0L, 0L)) {
        val rq = TextOps.qualityRequota(spark, sfDir)
        val moved = rq.filter(col("tau").isNotNull &&
          abs(col("keep_pm_delta") - col("keep_pm_base")) > 100).count()
        val est = TextOps.distinctKmv(spark, sfDir)
          .agg(max("est")).collect()(0).getLong(0)
        val hh = TextOps.heavyHitters(spark, sfDir)
          .agg(max("over_pm")).collect()(0).getLong(0)
        val lc = TextOps.lenCap(spark, sfDir)
          .agg(max(abs(col("delta_pm")))).collect()(0).getLong(0)
        // the DEPLOYED (m, k) row — the sweep's first row is now the
        // deliberately undersized fp-exercise config, not the default
        val bl = TextOps.bloomStats(spark, sfDir)
          .filter(col("m") === 65536).collect()(0)
        (moved, est, hh, lc, bl.getAs[Long]("fp_pm"), bl.getAs[Long]("saved_pm"))
      }

    // membership-audit tier: the Min-K% Prob gap between non-members and
    // members under the frozen base bigram LM — positive = the tail
    // statistic sees the base split's memorization signature (the alarm a
    // deployment reads before trusting "this doc was not in training")
    val minkGapPm = guarded("mink_audit", 0L) {
      val mk = TextOps.minKProb(spark, sfDir)
        .groupBy("is_member")
        .agg(expr("sum(mink_sum_bits * 1000 div k_tokens) div count(*)").as("m"))
        .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
      mk.getOrElse(false, 0L) - mk.getOrElse(true, 0L)
    }

    // the curriculum schedule over the same corpus: the quality-phase
    // shard walk (anneal shards last) a trainer's dataloader consumes
    // alongside the manifests above — written as its own artifact so the
    // run order is an explicit relation, not an implicit file order
    MixOps.curriculumPack(spark, sfDir, budget = budget)
      .write.mode(SaveMode.Overwrite).parquet(s"$workDir/curriculum")
    val cur = spark.read.parquet(s"$workDir/curriculum")
    val curShards = cur.select("shard_id").distinct().count()
    // the anneal set: docs in the LAST phase present (testdata tops out
    // at medium quality, so take max(phase) rather than hard-coding 2)
    val maxPhase = cur.agg(max("phase")).collect()(0).getInt(0)
    val annealDocs = cur.filter(col("phase") === maxPhase).count()

    println(s"""{"pipeline":"documents","sf":"$sfDir","input":$total,"kept":$kept,"admitted":$admitted,"quota_rejected":$rejected,"shards":$nShards,"shard_docs":$shardDocs,"shard_tokens":$shardTokens,"temp_shards":$tempShards,"temp_docs":$tempDocs,"temp_tokens":$tempTokens,"curriculum_shards":$curShards,"anneal_docs":$annealDocs,"worst_quality_drift_pm":$worstQDrift,"degraded_sources":$degradedSources,"worst_bpe_drift_pm":$worstBpeDrift,"requota_moved_sources":$requotaMoved,"vocab_est":$vocabEst,"hh_worst_over_pm":$hhWorstOverPm,"len_cap_worst_delta_pm":$lenCapWorstDeltaPm,"mink_gap_pm":$minkGapPm,"bloom_fp_pm":$bloomFpPm,"bloom_saved_pm":$bloomSavedPm,"novel_docs":$novelDocs,"len_gated":$lenGated,"stream_shards":$sShards,"stream_shard_tokens":$sTokens,"images_kept":$imagesKept,"caption_mismatch_media":$captionMismatchMedia,"videos_admitted":$videosAdmitted,"vectors_admitted":$vectorsAdmitted,"pairs_mined":$pairsMined,"dir_gated":$dirGated,"contaminated":$contaminated,"span_tokens_cut":$spanTokensCut,"nb_scored":$nbScored,"nb_top_bucket":"$nbTopBucket","nb_top_count":$nbTopCount,"degraded_stages":$degradedJson}""")
    spark.stop()
  }
}
