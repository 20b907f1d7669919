package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.Exprs
import graft.functions.TextOps

/** Streaming substring-dedup cut — the online form of the batch
  * [[TextOps.dupSpansIncr]] for the firehose: every arriving document has
  * its n-token runs that already exist in the FROZEN base substring index
  * cut out (span-merged, text reassembled) before the survivor text can
  * enter a training corpus. The memorization-risk gate run at ingest,
  * beside [[ContamStream]]'s benchmark quarantine.
  *
  * Mechanism: the frozen index is corpus-sized (every distinct base
  * shingle), far past the [[ContamStream]] literal-compilation budget, so
  * this is the stream-STATIC join form ([[VectorDedupStream]]'s machinery)
  * run inside `foreachBatch`: per micro-batch, positioned shingles of the
  * arrivals equi-join the frozen shingle relation, cut positions span-merge
  * with the batch tier's own [[TextOps.spanFold]] — the tiers share the
  * actual code, so they cannot drift.
  *
  * Scope split, deliberately mirroring [[VectorDedupStream]]: the stream cuts
  * against the FROZEN base only; runs duplicated WITHIN the increment
  * (two arrivals sharing a new run) are the batch compaction's job
  * ([[TextOps.dupSpansIncr]]'s within-delta class) — cross-arrival shingle
  * state is a batch-shaped join, not per-key stream state. The spec pins
  * both the base-cut parity and this divergence explicitly.
  *
  * Exactly-once: output is partitioned by epoch, and each epoch writes its
  * own `batch_id=N` directory with overwrite (the [[MarginStream]] and
  * [[RadiationPipeline.writeEpoch]] replay rule), so a replayed
  * micro-batch replaces its partial output and touches no other epoch.
  *
  * 100 TB posture: the static side is one string per distinct base
  * shingle — the stored substring index a deployment keeps; refreshing it
  * is a restart with a new snapshot (frozen-index versioning). Docs with
  * fewer than n words pass through untouched (n_dup = 0) — the doc-level
  * gates own them.
  *
  * `docs` must carry (doc_id, text, ingest_ts).
  */
object DupSpanStream {

  /** The frozen substring index: distinct base-split n-gram shingles,
    * materialized once (same salted split as the batch tier, so the spec's
    * differential pin is exact).
    */
  def frozenShingles(spark: SparkSession, dir: String, n: Int = 5,
                     deltaMod: Int = 5): DataFrame =
    graft.Materialize(TextOps.posShingles(
      TextOps.prepared(spark, dir)
        .filter(Exprs.arrivalSplit(col("doc_id"), deltaMod) =!= 0 && size(col("words")) >= n)
        .select(col("doc_id"), col("words")), n)
      .select("sh").distinct())

  /** Cut each arrival against the frozen index; survivors land in
    * `outDir` as (doc_id, n_words, n_dup, n_spans, text_clean),
    * partitioned by epoch (`batch_id`).
    */
  def appendStream(docs: DataFrame, frozen: DataFrame, outDir: String,
                   ckptDir: String, n: Int = 5): StreamingQuery =
    graft.LocalFs.startStream(docs, ckptDir)(_
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // same words construction as the batch tier's `prepared`
        val pw = graft.Materialize(batch
          .withColumn("norm", Exprs.normText(col("text")))
          .withColumn("words", split(col("norm"), " "))
          .select(col("doc_id"), col("words")))
        val long = pw.filter(size(col("words")) >= n)
        val hits = TextOps.posShingles(long, n).join(frozen, "sh")
          .select(col("doc_id"),
            explode(expr(s"sequence(i, i + ${n - 1})")).as("p"))
          .distinct()
        // short docs pass through untouched — spanFold only sees cuttable
        // docs, the union restores the rest
        val short = pw.filter(size(col("words")) < n)
          .select(col("doc_id"), size(col("words")).cast("long").as("n_words"),
            lit(0L).as("n_dup"), lit(0L).as("n_spans"),
            array_join(col("words"), " ").as("text_clean"))
        TextOps.spanFold(long, hits).unionAll(short)
          .write.mode(SaveMode.Overwrite).parquet(s"$outDir/batch_id=$batchId")
      })
}
