package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.Exprs
import graft.multimodal.Multimodal

/** Streaming video dedup — the temporal-media twin completing the
  * streaming admission matrix (text `DocStream`, image
  * `ImageDedupStream`, vector `VectorDedupStream`): arriving videos are
  * admitted only if their sampled frames are NOT ≥ 50% perceptually
  * contained (≤ `maxDist` bits per frame) in the FROZEN base corpus — the
  * re-upload/trim/re-encode relation the batch tier dedups on, applied
  * in-flight.
  *
  * Mechanism — the [[ShardStream]] pattern, not per-key verdict state:
  * video containment is a COUNTING verdict over banded frame matches,
  * which is a batch-shaped join however it's phrased, so each micro-batch
  * runs the SAME banded `hammingJoin` + containment fold as the batch
  * incremental tier ([[Multimodal.containedVideoIds]], shared verbatim —
  * the tiers cannot drift) against the frozen base frame relation, inside
  * `foreachBatch`. Each arrival's frame SIGNATURE (its frame hashes in
  * frame order, the [[Multimodal.videoFrameHashes]] construction) is
  * computed ROW-LOCALLY from the id in the stream plan, and the
  * micro-batch's frame relation is read back out of it.
  *
  * Within-feed duplicates collapse on the exact signature by a streaming
  * `dropDuplicates` BEFORE the containment check, across epochs as well
  * as within one. The containment verdict is a function of the signature
  * alone, so deduplicating first admits the same set as rejecting first;
  * a signature seen once never reaches a later epoch, whatever became of
  * earlier output. Each epoch overwrites its own `outDir/batch_id=N`, so a
  * replayed epoch (failure recovery) lands exactly once — the replay rule
  * of the other `foreachBatch` streams.
  *
  * Scope split, the family contract: NEAR containment *within the
  * increment* (two new videos sharing frames) remains the batch
  * compaction's job ([[Multimodal.videoDedupIncr]]'s `dup_in_increment`
  * class) — the stream's in-feed tier is exact-signature, like the image
  * stream's single-hash tier.
  *
  * State posture: one row per distinct signature ever seen, admitted or
  * rejected (no watermark: a re-upload months later is still a
  * duplicate); the frozen base is an immutable snapshot (the frozen-index
  * versioning contract), and no epoch reads earlier output. `media` must
  * carry (media_id, ingest_ts).
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

  /** Each arrival with its signature: frame hashes joined by commas. */
  private def withSig(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("ingest_ts"))
      .as[(Long, java.sql.Timestamp)]
      .mapPartitions(_.map { case (id, ts) =>
        val hs = (0 until Multimodal.frameCount(id)).map(f => Multimodal.frameHash(id, f))
        (id, ts, hs.mkString(","))
      })
      .toDF("media_id", "ingest_ts", "vsig")
  }

  def appendStream(media: DataFrame, baseFrames: DataFrame, outDir: String,
                   ckptDir: String, maxDist: Int = 6,
                   contThreshold: Double = 0.5): StreamingQuery =
    graft.LocalFs.startStream(withSig(media).dropDuplicates("vsig"), ckptDir)(_
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // one evaluation of the stateful micro-batch feeds both uses below
        val arrivals = graft.Materialize(batch)
        val frames = arrivals.select(col("media_id").as("video_id"),
            posexplode(split(col("vsig"), ",")).as(Seq("frame", "h")))
          .select(col("video_id"), col("frame"), col("h").cast("long").as("dhash"))
        val rejected = Multimodal
          .containedVideoIds(frames, baseFrames, maxDist, contThreshold)
          .withColumnRenamed("video_id", "media_id")
        arrivals.join(rejected, Seq("media_id"), "left_anti")
          .write.mode(SaveMode.Overwrite).parquet(s"$outDir/batch_id=$batchId")
      })
}
