package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.Exprs
import graft.multimodal.Multimodal

/** Streaming video dedup — the temporal-media twin completing the
  * streaming admission matrix (text `DocStream`/`NearDupStream`, image
  * `ImageDedupStream`, audio `AudioDedupStream`, vector
  * `VectorDedupStream`): arriving videos are admitted only if their
  * sampled frames are NOT ≥ 50% perceptually contained (≤ `maxDist` bits
  * per frame) in the FROZEN base corpus — the re-upload/trim/re-encode
  * relation the batch tier dedups on, applied in-flight.
  *
  * Mechanism — the [[ShardStream]] pattern, not per-key state: video
  * containment is a COUNTING verdict over banded frame matches, which is
  * a batch-shaped join however it's phrased, so each micro-batch runs the
  * SAME banded `hammingJoin` + containment fold as the batch incremental
  * tier ([[Multimodal.containedVideoIds]], shared verbatim — the tiers
  * cannot drift) against the frozen base frame relation, inside
  * `foreachBatch`. Frame hashes for arrivals are computed ROW-LOCALLY
  * from the id (the [[Multimodal.videoFrameHashes]] construction).
  * Within-feed duplicates collapse on the exact frame SIGNATURE (all
  * frame hashes concatenated): within the epoch by `dropDuplicates`, and
  * across epochs by an anti join against the already-admitted output —
  * which also makes a replayed epoch (failure recovery) idempotent, the
  * ShardStream retry contract.
  *
  * Scope split, the family contract: NEAR containment *within the
  * increment* (two new videos sharing frames) remains the batch
  * compaction's job ([[Multimodal.videoDedupIncr]]'s `dup_in_increment`
  * class) — the stream's in-feed tier is exact-signature, like the
  * image/audio streams' single-hash tier.
  *
  * State posture: ZERO streaming state — the checkpoint tracks only
  * source offsets; the frozen base is an immutable snapshot (the
  * frozen-index versioning contract) and the admitted-signature set is
  * the output itself, re-read per epoch (bounded by admissions, the
  * ShardStream manifest argument). `media` must carry
  * (media_id, ingest_ts).
  */
object VideoDedupStream {

  /** The frozen admission index: base-split (video_id, frame, dhash) —
    * the same salted split and session-shared frame relation as the
    * batch incremental tier.
    */
  def frozenBaseFrames(spark: SparkSession, dir: String,
                       deltaMod: Int = 3): DataFrame =
    Multimodal.sharedFrames(spark, dir)
      .filter(Exprs.arrivalSplit(col("video_id"), deltaMod) =!= 0)

  /** Row-local frame relation + signature for an arrival micro-batch. */
  private def withFrames(batch: DataFrame): (DataFrame, DataFrame) = {
    val spark = batch.sparkSession
    import spark.implicits._
    val arrivals = batch.select(col("media_id"), col("ingest_ts"))
      .as[(Long, java.sql.Timestamp)]
      .mapPartitions(_.map { case (id, ts) =>
        val hs = (0 until Multimodal.frameCount(id))
          .map(f => Multimodal.frameHash(id, f))
        (id, ts, hs.mkString(","))
      })
      .toDF("media_id", "ingest_ts", "vsig")
    val frames = batch.select(col("media_id")).as[Long]
      .mapPartitions(_.flatMap { id =>
        (0 until Multimodal.frameCount(id)).iterator
          .map(f => (id, f, Multimodal.frameHash(id, f)))
      })
      .toDF("video_id", "frame", "dhash")
    (arrivals, frames)
  }

  def appendStream(media: DataFrame, baseFrames: DataFrame, outDir: String,
                   ckptDir: String, maxDist: Int = 6,
                   contThreshold: Double = 0.5): StreamingQuery =
    media.writeStream
      .option("checkpointLocation", ckptDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val (arrivals, frames) = withFrames(batch)
        val rejected = Multimodal
          .containedVideoIds(frames, baseFrames, maxDist, contThreshold)
          .withColumnRenamed("video_id", "media_id")
        // the empty fallback is ONLY for the first epoch (outDir not yet
        // created) — a transient/corrupt read must propagate, because
        // silently substituting an empty prior disables the cross-epoch
        // anti-join and a replayed batch would re-admit duplicates
        val outPath = new org.apache.hadoop.fs.Path(outDir)
        val outFs = outPath.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val prior =
          if (outFs.exists(outPath) && outFs.listStatus(outPath).nonEmpty)
            spark.read.parquet(outDir).select(col("vsig").as("prior_sig"))
          else spark.range(0).select(lit("").as("prior_sig")).limit(0)
        arrivals
          .join(rejected, Seq("media_id"), "left_anti")
          .dropDuplicates("vsig")
          .join(prior, col("vsig") === col("prior_sig"), "left_anti")
          .write.mode(SaveMode.Append).parquet(outDir)
        ()
      }
      .start()
}
