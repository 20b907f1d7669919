package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.ShardStream

/** [[ShardStreamSpec]] fixture row — top-level so the Product encoder
  * needs no outer instance.
  */
case class CuratedDoc(doc_id: Long, source: String,
                      text_md5: String, n_tokens: Long)

/** The streaming shard-append fold: batch-local walks appended at the
  * persisted high-water mark — the streaming twin of manifestIncr's
  * append-only contract.
  */
class ShardStreamSpec extends SparkSuite {
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("shard append: epoch 2 extends the walk, closed epoch-1 shards stay byte-identical") {
    val out = Files.createTempDirectory("graft-shardstream").toString
    val ckpt = Files.createTempDirectory("graft-shardstream-ckpt").toString
    val budget = 100L
    val in = MemoryStream[CuratedDoc]
    val q = ShardStream.appendStream(in.toDF(), out, ckpt, budget = budget)
    try {
      def doc(id: Long, tok: Long) =
        CuratedDoc(id, s"src${id % 3}", f"${id}%032x", tok)

      // epoch 1: 8 docs x 60 tokens = 480 tokens -> shards 0..4
      in.addData((1L to 8L).map(doc(_, 60L)): _*)
      q.processAllAvailable()
      val m1 = spark.read.parquet(s"$out/manifest")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val hwm1 = m1.values.map(_._2).sum
      assert(hwm1 == 480L, s"epoch-1 token total, got $hwm1")
      assert(m1.keySet == (0L to 4L).toSet, s"epoch-1 shards, got ${m1.keySet}")

      // epoch 2: 4 more docs append at the high-water mark
      in.addData((101L to 104L).map(doc(_, 60L)): _*)
      q.processAllAvailable()
      // partition discovery types `epoch` as int — normalize to long
      val assign = spark.read.parquet(s"$out/assign")
        .withColumn("epoch", col("epoch").cast("long"))
      val e2 = assign.filter(col("epoch") > assign.agg(min("epoch")).head().getLong(0))
      assert(e2.count() == 4)
      assert(e2.agg(min("off")).head().getLong(0) >= hwm1,
        "an epoch-2 doc landed below the epoch-1 high-water mark")

      val m2 = spark.read.parquet(s"$out/manifest")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(m2.values.map(_._2).sum == 480L + 240L, "merged token total")
      // every shard strictly below the epoch-1 open shard is CLOSED: its
      // manifest row (docs, tokens, checksum) must be byte-identical
      val openShard = hwm1 / budget
      m1.filter(_._1 < openShard).foreach { case (sid, row) =>
        assert(m2(sid) == row, s"closed shard $sid was rewritten: ${m2(sid)} vs $row")
      }
    } finally q.stop()
  }

  private def doc(id: Long, tok: Long) =
    CuratedDoc(id, s"src${id % 3}", f"${id}%032x", tok)

  /** Read the current manifest as a comparable map (all five columns). */
  private def manifestMap(out: String): Map[Long, (Long, Long, Long, Long)] =
    spark.read.parquet(s"$out/manifest").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap

  test("fold input is manifest-sized: epoch-N state read does not grow with N") {
    val out = Files.createTempDirectory("graft-shardfold").toString
    val ckpt = Files.createTempDirectory("graft-shardfold-ckpt").toString
    val in = MemoryStream[CuratedDoc]
    // budget >> corpus so the shard count (and thus the fold state) stays
    // constant while the assign log grows one epoch per batch
    val q = ShardStream.appendStream(in.toDF(), out, ckpt, budget = 10000L)
    try {
      val epochs = 5
      (0 until epochs).foreach { e =>
        in.addData((1L to 4L).map(i => doc(e * 100L + i, 50L)): _*)
        q.processAllAvailable()
      }
      val reads = ShardStream.foldInput.entrySet().iterator()
      val mine = scala.collection.mutable.Map[Long, (Long, Long)]()
      while (reads.hasNext) {
        val kv = reads.next()
        if (kv.getKey._1 == out) mine(kv.getKey._2) = kv.getValue
      }
      assert(mine.size >= 4, s"expected >=4 recorded epochs, got ${mine.keySet}")
      val es = mine.keys.toSeq.sorted
      // the assign log grew linearly with epochs…
      val assignRows = spark.read.parquet(s"$out/assign").count()
      assert(assignRows == epochs * 4L, s"assign log rows: $assignRows")
      // …but the fold's input stayed flat: rows == live shard count (1
      // here), bytes within noise of the first non-empty state snapshot
      val shardCount = spark.read.parquet(s"$out/manifest").count()
      val (lastBytes, lastRows) = mine(es.last)
      assert(lastRows == shardCount,
        s"fold read $lastRows state rows, manifest has $shardCount shards")
      val (firstBytes, _) = mine(es(1)) // es.head read the empty pre-state
      assert(mine(es.head) == ((0L, 0L)), "first epoch should read no state")
      assert(lastBytes > 0 && lastBytes <= firstBytes * 2,
        s"fold input bytes grew with epoch count: first=$firstBytes last=$lastBytes")
    } finally q.stop()
  }

  test("retry idempotence: re-running a committed epoch reproduces byte-identical output") {
    val out = Files.createTempDirectory("graft-shardretry").toString
    val ckpt = Files.createTempDirectory("graft-shardretry-ckpt").toString
    val in = MemoryStream[CuratedDoc]
    val q = ShardStream.appendStream(in.toDF(), out, ckpt, budget = 100L)
    val e2docs = (101L to 104L).map(doc(_, 60L))
    try {
      in.addData((1L to 8L).map(doc(_, 60L)): _*)
      q.processAllAvailable()
      in.addData(e2docs: _*)
      q.processAllAvailable()
    } finally q.stop()

    val lastEpoch = spark.read.parquet(s"$out/assign")
      .agg(max(col("epoch").cast("long"))).head().getLong(0)
    // MULTISET compare (sorted seq, not a Set): an overwrite→append
    // regression duplicates byte-identical rows, which a Set would collapse
    def assignRows(e: Long) =
      spark.read.parquet(s"$out/assign/epoch=$e")
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
    val before = assignRows(lastEpoch)
    val mBefore = manifestMap(out)

    // simulate foreachBatch's at-least-once retry: the sink re-runs the
    // SAME epochId. Must overwrite (not append) its own first attempt and
    // fold against strictly-prior state (not its own snapshot) — flipping
    // either breaks this assert (duplicate rows / shifted offsets).
    ShardStream.processBatch(e2docs.toDF(), lastEpoch, out, buckets = 8, budget = 100L)

    assert(assignRows(lastEpoch) == before,
      "retried epoch changed its assignment rows")
    assert(manifestMap(out) == mBefore, "retried epoch changed the manifest")
  }

  test("crash between manifest swap-renames: next epoch recovers from .old") {
    val out = Files.createTempDirectory("graft-shardcrash").toString
    val ckpt = Files.createTempDirectory("graft-shardcrash-ckpt").toString
    val in = MemoryStream[CuratedDoc]
    val q = ShardStream.appendStream(in.toDF(), out, ckpt, budget = 100L)
    try {
      in.addData((1L to 8L).map(doc(_, 60L)): _*)
      q.processAllAvailable()
    } finally q.stop()
    val mBefore = manifestMap(out)
    // simulate the crash window: manifest swapped aside, swap-in never
    // happened — only `.old` exists on disk
    val mDir = new java.io.File(s"$out/manifest")
    val mOld = new java.io.File(s"$out/manifest.old")
    assert(mDir.renameTo(mOld), "test setup: swap-aside failed")
    // the next epoch's fold must restore `.old` first and proceed
    ShardStream.processBatch(
      (101L to 104L).map(doc(_, 60L)).toDF(), 1L, out, buckets = 8, budget = 100L)
    assert(!mOld.exists(), "recovery left the .old copy behind")
    val mAfter = manifestMap(out)
    assert(mAfter.values.map(_._2).sum == 480L + 240L,
      "post-recovery manifest lost tokens")
    // closed epoch-0 shards still byte-identical through the crash
    val openShard = 480L / 100L
    mBefore.filter(_._1 < openShard).foreach { case (sid, row) =>
      assert(mAfter(sid) == row, s"closed shard $sid rewritten through recovery")
    }
  }

  test("streaming N-epoch fold == one-batch walk (manifest equivalence)") {
    import graft.streaming.ShardStream.manifestDelta
    import graft.functions.MixOps
    val budget = 100L
    val all = (1L to 12L).map(doc(_, 35L))

    // batch twin: ONE walk over all docs, same shard math, same agg
    def walkedBatch = MixOps.walkOffsets(
        all.toDF().select(col("doc_id"), col("source"), col("text_md5"),
          col("n_tokens").as("tok")), 8)
      .withColumn("shard_id", expr(s"off div ${budget}L"))
    val batchManifest = manifestDelta(walkedBatch).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap

    // (a) EXACT equivalence when arrival order coincides with the walk
    // order: split the docs at the walk's own (bucket, h, doc_id) midpoint
    val order = walkedBatch.orderBy("off").select("doc_id").collect().map(_.getLong(0))
    val (firstHalf, secondHalf) = order.splitAt(order.length / 2)
    val byId = all.map(d => d.doc_id -> d).toMap
    def runEpochs(batches: Seq[Seq[CuratedDoc]]): Map[Long, (Long, Long, Long)] = {
      val out = Files.createTempDirectory("graft-shardeq").toString
      val ckpt = Files.createTempDirectory("graft-shardeq-ckpt").toString
      val in = MemoryStream[CuratedDoc]
      val q = ShardStream.appendStream(in.toDF(), out, ckpt, budget = budget)
      try batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      spark.read.parquet(s"$out/manifest").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    }
    val aligned = runEpochs(Seq(firstHalf.map(byId).toSeq, secondHalf.map(byId).toSeq))
    assert(aligned == batchManifest,
      s"walk-aligned 2-epoch fold != batch manifest:\n$aligned\nvs\n$batchManifest")

    // (b) order-INDEPENDENT invariants hold for an arbitrary split too:
    // totals and the xor-of-everything checksum don't care how docs were
    // batched, even though per-shard membership legitimately differs
    val arbitrary = runEpochs(Seq(all.filter(_.doc_id % 2 == 1), all.filter(_.doc_id % 2 == 0)))
    def totals(m: Map[Long, (Long, Long, Long)]) =
      (m.values.map(_._1).sum, m.values.map(_._2).sum,
        m.values.map(_._3).foldLeft(0L)(_ ^ _))
    assert(totals(arbitrary) == totals(batchManifest),
      "corpus-level totals diverge under an arbitrary epoch split")
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
}
