package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.functions.MixOps

/** Streaming shard append — the streaming twin of [[graft.functions.MixOps.manifestIncr]]'s
  * append contract, and the tail of the streaming corpus pipeline
  * ([[DocStream.curateStream]] → [[QuotaStream]] admission → HERE): each
  * micro-batch of curated documents walks its batch-local bucketed order,
  * prefix-sums token counts from the corpus's persisted high-water mark,
  * and ships (doc → shard) assignments plus the updated manifest. Closed
  * shards are never rewritten — identical to the batch operator's
  * spec-asserted invariant.
  *
  * PRODUCTION FOLD (not a demo re-aggregation): the per-shard manifest IS
  * the fold state, versioned by epoch (`state/epoch=N`). Epoch N reads
  * back ONLY the latest strictly-prior state — one row per shard, never
  * the assign log — takes the high-water mark as its token total,
  * aggregates the batch delta in-flight, and merges by associative fold
  * (counts add, the xor checksum combines, `last_epoch` maxes) exactly
  * like [[MixOps.applyDeltaFrom]]. Per-epoch input is manifest-sized
  * (O(#shards), bounded by corpus/budget), NOT O(all docs ever appended):
  * a long-running stream's epoch cost does not grow with corpus age.
  * ShardStreamSpec asserts the fold input stays flat across epochs while
  * the assign log grows.
  *
  * Exactly-once shape under foreachBatch's at-least-once contract:
  * assignments land in an append-only log partitioned BY EPOCH
  * (`assign/epoch=N`, written with overwrite — a retried epoch replaces
  * its own partial output, never double-appends), and the fold reads the
  * latest STRICTLY PRIOR state epoch, so a retry never sees its own
  * first attempt's partial state and reproduces byte-identical offsets
  * and manifest (spec-asserted by re-running [[processBatch]] for a
  * committed epoch). State epochs older than the one just read are
  * pruned — at most two live snapshots — and the current-manifest
  * convenience view is swap-renamed so no instant has zero copies on
  * disk.
  *
  * `docs` must carry (doc_id, source, text_md5, n_tokens) —
  * [[DocStream.curateStream]]'s output schema.
  */
object ShardStream {

  /** Test-visible fold-input telemetry: (outPath, epochId) → (bytes, rows)
    * of the persisted state the epoch's fold actually read. The spec
    * asserts bytes stay flat as epochs accumulate — the "input does not
    * grow with N" contract. Entries self-evict 64 epochs back so the map
    * itself honors the bounded-state rule on a long-running stream.
    */
  private[graft] val foldInput =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), (Long, Long)]()

  private def recordFoldInput(outPath: String, epochId: Long, v: (Long, Long)): Unit = {
    foldInput.put((outPath, epochId), v)
    foldInput.remove((outPath, epochId - 64))
  }

  private val ManifestSchema =
    "shard_id BIGINT, n_docs BIGINT, n_tokens BIGINT, checksum BIGINT, last_epoch BIGINT"

  /** Batch-local per-shard aggregate over a walked assignment relation —
    * the delta side of the fold; also the batch twin the streaming↔batch
    * equivalence spec compares against. Order-independent xor checksum
    * over the content hashes.
    */
  private[graft] def manifestDelta(walked: DataFrame): DataFrame =
    walked.groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("tok").as("n_tokens"),
        expr("bit_xor(cast(conv(substring(text_md5, 1, 15), 16, 10) as bigint))")
          .as("checksum"))

  /** Latest state epoch strictly below `epochId`, or None before the
    * first commit. Directory listing of the (tiny) state root — the
    * object-store analog lists a prefix with one entry per retained
    * snapshot (≤ 2 after pruning).
    */
  private def priorStateEpoch(stateRoot: java.io.File, epochId: Long): Option[Long] = {
    if (!stateRoot.exists()) None
    else Option(stateRoot.listFiles()).getOrElse(Array.empty)
      .flatMap { f =>
        val n = f.getName
        if (f.isDirectory && n.startsWith("epoch="))
          n.stripPrefix("epoch=").toLongOption else None
      }
      .filter(_ < epochId)
      .sorted.lastOption
  }

  private def dirBytes(d: java.io.File): Long =
    Option(d.listFiles()).getOrElse(Array.empty)
      .map(f => if (f.isDirectory) dirBytes(f) else f.length()).sum

  /** The per-epoch fold body — public to the package so the retry-
    * idempotence spec can re-invoke it for an already-committed epochId
    * and assert byte-identical output.
    */
  private[graft] def processBatch(batch: DataFrame, epochId: Long, outPath: String,
                                  buckets: Int, budget: Long): Unit = {
    val spark = batch.sparkSession
    val stateRoot = new java.io.File(s"$outPath/state")
    // strictly-prior state only: a retried epoch must not fold against
    // its own first attempt's snapshot
    val priorEpoch = priorStateEpoch(stateRoot, epochId)
    val prior = priorEpoch match {
      case Some(m) =>
        val d = new java.io.File(s"$outPath/state/epoch=$m")
        val df = spark.read.schema(ManifestSchema).parquet(d.getPath)
        recordFoldInput(outPath, epochId, (dirBytes(d), df.count()))
        df
      case None =>
        recordFoldInput(outPath, epochId, (0L, 0L))
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType.fromDDL(ManifestSchema))
    }
    // high-water mark = the fold state's token total (one agg over
    // O(#shards) rows), not a scan of the assign log
    val hwm = prior.agg(coalesce(sum("n_tokens"), lit(0L))).head().getLong(0)

    // one walk feeds both the log write and the delta agg
    val walked = graft.Materialize(MixOps.walkOffsets(
        batch.select(col("doc_id"), col("source"), col("text_md5"),
          col("n_tokens").as("tok")), buckets)
      .withColumn("off", col("off") + lit(hwm))
      .withColumn("shard_id", expr(s"off div ${budget}L"))
      .select("doc_id", "source", "text_md5", "tok", "off", "shard_id"))
    walked.write.mode("overwrite").parquet(s"$outPath/assign/epoch=$epochId")

    // associative merge: prior state + batch delta (applyDeltaFrom's fold)
    val delta = manifestDelta(walked)
      .select(col("shard_id"), col("n_docs").as("d_docs"),
        col("n_tokens").as("d_toks"), col("checksum").as("d_ck"))
    val merged = prior
      .select(col("shard_id"), col("n_docs").as("b_docs"),
        col("n_tokens").as("b_toks"), col("checksum").as("b_ck"),
        col("last_epoch").as("b_le"))
      .join(delta, Seq("shard_id"), "full_outer")
      .select(col("shard_id"),
        (coalesce(col("b_docs"), lit(0L)) + coalesce(col("d_docs"), lit(0L))).as("n_docs"),
        (coalesce(col("b_toks"), lit(0L)) + coalesce(col("d_toks"), lit(0L))).as("n_tokens"),
        coalesce(col("b_ck"), lit(0L)).bitwiseXOR(coalesce(col("d_ck"), lit(0L)))
          .as("checksum"),
        when(col("d_docs").isNotNull, lit(epochId))
          .otherwise(col("b_le")).as("last_epoch"))
    merged.coalesce(1).write.mode("overwrite").parquet(s"$outPath/state/epoch=$epochId")

    // current-manifest convenience view, swap-renamed so no instant has
    // zero copies on disk (consumers that don't speak epochs read this)
    val mTmp = s"$outPath/manifest.tmp"
    spark.read.schema(ManifestSchema).parquet(s"$outPath/state/epoch=$epochId")
      .coalesce(1).write.mode("overwrite").parquet(mTmp)
    graft.LocalFs.swapIn(mTmp, s"$outPath/manifest")

    // prune state snapshots older than the one this epoch read: a retry
    // of epoch N re-reads priorEpoch (kept), anything older is dead
    priorEpoch.foreach { m =>
      Option(stateRoot.listFiles()).getOrElse(Array.empty).foreach { f =>
        val e = f.getName.stripPrefix("epoch=").toLongOption
        if (f.isDirectory && e.exists(_ < m)) graft.LocalFs.rmrf(f)
      }
    }
  }

  def appendStream(docs: DataFrame, outPath: String, checkpointDir: String,
                   buckets: Int = 8, budget: Long = 500L): StreamingQuery =
    graft.LocalFs.startStream(docs, checkpointDir)(_
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        processBatch(batch, epochId, outPath, buckets, budget)
      })
}
