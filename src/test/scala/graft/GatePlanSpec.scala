package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Physical-plan pins for the frozen-artifact streaming gate family —
  * the PlanAuditSpec discipline applied to the micro-batch plans. The
  * family's 100 TB posture claim is "zero keyed state, zero shuffle: the
  * frozen artifact is a plan literal (or one broadcast local relation)
  * and the verdict is a row-local expression" — prose until now. These
  * pins read each gate's actual executed micro-batch plan and assert the
  * claim, so a regression that quietly reintroduces a shuffle, keyed
  * state, or a per-micro-batch re-execution of the artifact's BUILD
  * chain (the lenGate defect these pins were written against: a lazy
  * sketch DataFrame passed as the "frozen" threshold relation re-ran the
  * whole per-source window+shuffle chain inside every micro-batch) fails
  * loudly instead of surviving as a silent 100 TB cost.
  */
class GatePlanSpec extends SparkSuite {
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  /** Run one micro-batch and return (executed-plan string, #state ops). */
  private def lastPlan(q: StreamingQuery): (String, Int) = {
    val se = q.asInstanceOf[
      org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery
    (se.lastExecution.executedPlan.toString,
      q.lastProgress.stateOperators.length)
  }

  private def assertStateless(plan: String, nState: Int, gate: String): Unit = {
    assert(nState == 0, s"$gate must run with ZERO state operators: $nState")
    assert(!plan.contains("StateStore"),
      s"$gate plan must not touch a state store:\n$plan")
  }

  test("dir gate: literal direction, zero state, zero exchange, one codegen span") {
    import graft.streaming.DirGateStream
    val u = DirGateStream.frozenDirection(spark, sf())
    val in = MemoryStream[(Long, Seq[Double])]
    in.addData(Seq((1L, Seq.fill(64)(0.1)), (2L, Seq.fill(64)(0.0))))
    val out = DirGateStream(in.toDF().toDF("vec_id", "v"), u)
    val q = out.writeStream.format("memory").queryName("gp_dir")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val (plan, nState) = lastPlan(q)
      assertStateless(plan, nState, "dir gate")
      assert(!plan.contains("Exchange"), s"dir gate must be exchange-free:\n$plan")
      // the verdict chain fuses into ONE whole-stage span over the scan
      // (the compact tree renders codegen membership as `*(stageId)`)
      val stages = """\*\((\d+)\)""".r.findAllMatchIn(plan).map(_.group(1)).toSet
      assert(stages == Set("1"),
        s"dir gate must fuse into a single codegen span, saw stages $stages:\n$plan")
    } finally q.stop()
  }

  test("bloom gate: plan-literal bitmap, zero state, zero exchange") {
    import graft.streaming.BloomStream
    val words = BloomStream.bitmapWords(spark, sf())
    val in = MemoryStream[(Long, String, String)]
    in.addData(Seq((1L, "a b c d e", "s1")))
    val out = BloomStream.novelty(in.toDF().toDF("doc_id", "text", "source"), words)
    val q = out.writeStream.format("memory").queryName("gp_bloom")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val (plan, nState) = lastPlan(q)
      assertStateless(plan, nState, "bloom gate")
      assert(!plan.contains("Exchange"), s"bloom gate must be exchange-free:\n$plan")
    } finally q.stop()
  }

  test("nb scorer: literal model, zero state, zero exchange") {
    import graft.streaming.NbStream
    import graft.functions.TextOps
    val model = TextOps.nbFrozenModel(spark, sf(), topK = 64)
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    in.addData(Seq((1L, "a b c", java.sql.Timestamp.valueOf("2026-01-01 10:00:00"))))
    val out = NbStream(in.toDF().toDF("doc_id", "text", "ingest_ts"), model)
    val q = out.writeStream.format("memory").queryName("gp_nb")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val (plan, nState) = lastPlan(q)
      assertStateless(plan, nState, "nb scorer")
      assert(!plan.contains("Exchange"), s"nb scorer must be exchange-free:\n$plan")
    } finally q.stop()
  }

  test("contam gate: literal probes, zero state, zero exchange") {
    import graft.streaming.ContamStream
    val probes = ContamStream.frozenProbes(spark, sf())
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    in.addData(Seq((1L, "a b c d e", java.sql.Timestamp.valueOf("2026-01-01 10:00:00"))))
    val out = ContamStream(in.toDF().toDF("doc_id", "text", "ingest_ts"), probes)
    val q = out.writeStream.format("memory").queryName("gp_contam")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val (plan, nState) = lastPlan(q)
      assertStateless(plan, nState, "contam gate")
      assert(!plan.contains("Exchange"), s"contam gate must be exchange-free:\n$plan")
    } finally q.stop()
  }

  test("frozen static sides are materialized at the freeze point — no build chain left in their plans") {
    // The convention the round-20 fixes restored: a gate's "frozen"
    // relation must be a snapshot READ (LocalTableScan, checkpointed
    // blocks, or a bare source scan + row-local projection), never a
    // lazy plan that re-executes its BUILD chain (joins, windows,
    // aggregates, shuffles) inside every micro-batch. Pinned on the
    // relation's own executed plan, where a regression is visible
    // before any stream even starts.
    def assertSnapshot(df: org.apache.spark.sql.DataFrame, name: String,
                       allowScan: Boolean = false): Unit = {
      val plan = df.queryExecution.executedPlan.toString
      for (marker <- Seq("Join", "Window", "HashAggregate", "Exchange"))
        assert(!plan.contains(marker),
          s"$name must be frozen, found $marker in its plan:\n$plan")
      if (!allowScan)
        assert(plan.contains("Scan ExistingRDD") || plan.contains("LocalTableScan"),
          s"$name must read materialized state:\n$plan")
    }
    import graft.streaming.{DupSpanStream, MarginStream, QuantileStream,
      VectorDedupStream}
    assertSnapshot(DupSpanStream.frozenShingles(spark, sf()), "frozenShingles")
    val (cents, target) = MarginStream.frozenTarget(spark, sf())
    assertSnapshot(cents, "frozenTarget centroids")
    assertSnapshot(target, "frozenTarget side")
    assertSnapshot(QuantileStream.frozenThresholds(spark, sf()), "frozenThresholds")
    // VectorDedupStream's base is scan + row-local projection BY DESIGN
    // (the snapshot-read posture without a copy) — still must hold no
    // join/window/agg/exchange
    assertSnapshot(VectorDedupStream.frozenBase(spark, sf()),
      "VectorDedup frozenBase", allowScan = true)
    // VideoDedupStream's base is the session-shared frame checkpoint +
    // a row-local split filter (added r22 with the fail-closed pin below)
    assertSnapshot(graft.streaming.VideoDedupStream.frozenBaseFrames(spark, sf()),
      "VideoDedup frozenBaseFrames")
  }

  test("freeze-convention pin is fail-closed: every streaming frozen* def is classified") {
    // r20 VERDICT #3 (deferred r20/r21, implemented r22): the snapshot
    // test above audits an ENUMERATED list — a new gate family's frozen
    // def previously escaped it silently. This pin greps the streaming
    // sources for `def frozen*` and fails until the new def is either
    // added to the snapshot audit (DataFrame-valued) or classified as a
    // driver-side literal (Seq-valued — a snapshot by construction).
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Paths.get("src/main/scala/graft/streaming")
    assume(java.nio.file.Files.isDirectory(dir), "runs from the repo root")
    // definition lines only: a comment or scaladoc naming `def frozenX`
    // must not enter the inventory
    val defPat = """(?m)^\s*(?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+)*def (frozen\w*)""".r
    val walk = java.nio.file.Files.walk(dir)
    val found =
      try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          val text = new String(java.nio.file.Files.readAllBytes(p),
            java.nio.charset.StandardCharsets.UTF_8)
          val base = p.getFileName.toString.stripSuffix(".scala")
          defPat.findAllMatchIn(text).map(m => s"$base.${m.group(1)}")
        }.toSet
      finally walk.close()
    val classified = GatePlanSpec.snapshotAuditedFrozen ++ GatePlanSpec.literalFrozen
    assert(found == classified,
      s"streaming frozen* inventory drifted — extend the snapshot audit (or " +
        s"the literal list) and this pin together: " +
        s"extra=${(found -- classified).toSeq.sorted} " +
        s"missing=${(classified -- found).toSeq.sorted}")
  }

  test("len gate: frozen thresholds broadcast as a local relation — no shuffle, no sketch re-build in the micro-batch") {
    import graft.streaming.QuantileStream
    val thr = QuantileStream.frozenThresholds(spark, sf())
    val in = MemoryStream[(Long, String, String)]
    in.addData(Seq((1L, "a b c", "s1")))
    val out = QuantileStream.lenGate(in.toDF().toDF("doc_id", "text", "source"), thr)
    val q = out.writeStream.format("memory").queryName("gp_len")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val (plan, nState) = lastPlan(q)
      assertStateless(plan, nState, "len gate")
      // one broadcast of the |sources|-row local relation is the whole
      // static side — no shuffle anywhere in the micro-batch
      assert(!plan.contains("ShuffleQueryStage") &&
        !plan.contains("Exchange hashpartitioning") &&
        !plan.contains("ShuffleExchange"),
        s"len gate must not shuffle:\n$plan")
      assert(plan.contains("LocalTableScan"),
        s"the frozen threshold side must plan as a LocalTableScan:\n$plan")
      // markers of the defect this pin was written against: a lazy
      // threshold DataFrame re-executes the sketch build (per-source
      // row_number windows over the corpus scan) inside the micro-batch
      assert(!plan.contains("row_number") && !plan.contains("Window"),
        s"the sketch build chain must NOT run inside the micro-batch:\n$plan")
    } finally q.stop()
  }
}

object GatePlanSpec {
  /** Freeze-convention inventory (one copy, consumed by the fail-closed
    * pin): DataFrame-valued frozen defs audited by the snapshot test,
    * and Seq-valued defs that are driver-side literals by construction.
    */
  val snapshotAuditedFrozen: Set[String] = Set(
    "DupSpanStream.frozenShingles", "MarginStream.frozenTarget",
    "QuantileStream.frozenThresholds", "VectorDedupStream.frozenBase",
    "VideoDedupStream.frozenBaseFrames")
  val literalFrozen: Set[String] = Set(
    "ContamStream.frozenProbes", "DirGateStream.frozenDirection")
}
