package graft

import org.apache.spark.sql.functions._
import graft.functions.{Bpe, TextOps, VectorOps}

/** Degenerate-document hardening: real web corpora carry null, empty and
  * whitespace-only texts. Every expected value here was derived by running
  * the operator's DuckDB oracle semantics on the same fixture, so the
  * assertions pin the CROSS-ENGINE contract for the degenerate rows (both
  * engines: split of "" yields [""], null text propagates null words, a
  * null words array drops the row from any explode/unnest).
  */
class EdgeCaseSpec extends SparkSuite {
  import spark.implicits._

  private lazy val tmp: String = {
    val docs = Seq[(Long, String, String, String, Long)](
      (1L, null, "en", "s", 0L),   // null text
      (2L, "", "en", "s", 0L),     // empty
      (3L, "   ", "en", "s", 3L),  // whitespace-only (norm → "")
      (4L, "x", "en", "s", 1L)     // single 1-char word
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("edge").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("quality: degenerate docs bucket low, never crash") {
    val q = TextOps.quality(spark, tmp).orderBy("doc_id")
      .select("doc_id", "quality_bucket").as[(Long, String)].collect().toSeq
    // null score (doc 1) falls through every threshold → "low", same as the
    // oracle's CASE; empty docs score 0.3025 → "low"
    assert(q == Seq((1L, "low"), (2L, "low"), (3L, "low"), (4L, "low")))
  }

  test("segmentDedup: empty docs share the '' segment; null text drops out") {
    val out = TextOps.segmentDedup(spark, tmp)
      .select("doc_id", "n_segs", "n_kept", "text_dedup")
      .as[(Long, Long, Long, String)].collect().toSeq
    // docs 2 and 3 both contribute segment "" (freq 2 → dropped from both);
    // doc 1's null words explode to no rows on BOTH engines
    assert(out == Seq((2L, 1L, 0L, ""), (3L, 1L, 0L, ""), (4L, 1L, 1L, "x")))
  }

  test("lmBits: null text drops; empty-string token counts like any token") {
    val out = TextOps.lmBits(spark, tmp)
      .select("doc_id", "n_tokens", "sum_bits").as[(Long, Long, Long)]
      .collect().toSeq
    // corpus tokens: "" (docs 2,3) and "x" (doc 4) → N=3, len(bin(3))=2;
    // "" count 2 → 2−2=0 bits; "x" count 1 → 2−1=1 bit
    assert(out == Seq((2L, 1L, 0L), (3L, 1L, 0L), (4L, 1L, 1L)))
  }

  test("bpePairs: no phantom pair from empty or 1-char words") {
    // vocabulary is {"" (from docs 2,3), "x"} — zero adjacent pairs; the
    // unguarded sequence(1, length(w)) would DESCEND for "" and fabricate
    // a [" "," "] pair (the r7 review finding this test locks out)
    assert(TextOps.prepared(spark, tmp).count() == 4)
    assert(Bpe.bpePairs(spark, tmp).isEmpty)
    assert(Bpe.train(spark, tmp, nMerges = 3).isEmpty)
  }

  test("containment and jaccard candidate paths survive degenerate docs") {
    // short docs fall back to whole-norm shingles; "" == "" pairs docs 2-3
    val c = TextOps.containmentPairs(spark, tmp)
      .select("a_id", "b_id", "containment").as[(Long, Long, Double)]
      .collect().toSeq
    assert(c == Seq((2L, 3L, 1.0)))
    TextOps.jaccardPairs(spark, tmp).collect() // no crash is the contract
  }

  test("semDedupIncr: empty delta yields empty verdicts; all-dup delta classifies, zero-norm drops") {
    import graft.functions.VectorOps
    // partition candidate ids by the engine's OWN salted split so the
    // fixture can't drift from the engine's residue definition
    val residues = spark.range(0, 100).select(col("id").as("vec_id"),
        graft.Exprs.arrivalSplit(col("vec_id"), 5).as("r"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val baseIds = residues.collect { case (id, r) if r != 0 => id }.toSeq.sorted
    val deltaIds = residues.collect { case (id, r) if r == 0 => id }.toSeq.sorted
    assert(baseIds.size >= 3 && deltaIds.size >= 2, "fixture needs both residue classes")

    def write(rows: Seq[(Long, String, Seq[Float])]): String = {
      val dir = java.nio.file.Files.createTempDirectory("edgevec").toString
      rows.toDF("vec_id", "label", "embedding")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      rows.map(r => (r._1, s"src${r._1 % 2}"))
        .toDF("doc_id", "source")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    val v = Seq(1f, 2f, 3f, 4f)

    // (a) base-only corpus: the increment is empty — verdicts AND the
    // dup-rate monitor must return zero rows, not crash
    val dirA = write(baseIds.take(3).map(id => (id, "l", v)))
    assert(VectorOps.semDedupIncr(spark, dirA).count() == 0)
    assert(VectorOps.dupRateIncr(spark, dirA).count() == 0)

    // (b) identical vector everywhere + a zero-norm delta row: both real
    // delta rows are dup_of_base with the (single) base id as
    // representative; the zero vector never enters (cosine undefined)
    val zeroId = deltaIds(1)
    val dirB = write(Seq(
      (baseIds.head, "l", v),
      (deltaIds.head, "l", v),
      (zeroId, "l", Seq(0f, 0f, 0f, 0f))))
    val got = VectorOps.semDedupIncr(spark, dirB).collect()
      .map(r => (r.getLong(0), r.getBoolean(2), r.getString(3), r.getLong(4)))
    assert(got.toSeq == Seq((deltaIds.head, false, "dup_of_base", baseIds.head)),
      s"got ${got.toSeq}")
  }
  test("nearDupIncr: degenerate docs classify without crashing; all-delta corpus self-dedups") {
    import org.apache.spark.sql.functions._
    // the shared degenerate corpus: null/empty/whitespace/1-char docs
    val out = TextOps.nearDupIncr(spark, tmp).collect()
    assert(out.forall(r => Set("kept", "dup_of_base", "dup_in_increment")
      .contains(r.getAs[String]("drop_reason"))))
    // ids 1/4 are delta under mod 5 — an all-delta near-identical pair
    // must resolve within the increment (no base exists)
    val docs = Seq(
      (1L, "identical delta content here", "en", "s", 28L),
      (4L, "identical delta content here", "en", "s", 28L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("ndincr_edge").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.nearDupIncr(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("drop_reason")).toMap
    assert(got == Map(1L -> "kept", 4L -> "dup_in_increment"), s"got $got")
  }

  test("curriculumPack: single-doc corpus packs at offset zero, shard zero") {
    import org.apache.spark.sql.functions._
    val docs = Seq((7L, "just one document", "en", "s", 17L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("cur_edge").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = graft.functions.MixOps.curriculumPack(spark, dir).collect()
    assert(r.length == 1 && r.head.getAs[Long]("off") == 0L &&
      r.head.getAs[Long]("shard_id") == 0L, s"got ${r.toSeq}")
  }

  test("embedStale: corpus without duplicate-signature groups reports nothing") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (0L, "completely distinct first document", "en", "s", 34L),
      (1L, "unrelated second text entirely different", "en", "s", 40L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f), 0), (1L, Seq(0.0f, 1.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("stale_edge").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    vecs.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    assert(graft.functions.VectorOps.embedStale(spark, dir).count() == 0)
  }

  test("embedRefresh: no duplicate families means nothing to repair, zero rows") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (0L, "completely distinct first document", "en", "s", 34L),
      (1L, "unrelated second text entirely different", "en", "s", 40L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f), 0), (1L, Seq(0.0f, 1.0f, 0.0f, 0.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("refresh_edge").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    vecs.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // the member relation is empty, both LSH passes still run — the
    // oracle's GROUP BY over zero member rows is zero rows, not a crash
    assert(graft.functions.VectorOps.embedRefresh(spark, dir).count() == 0)
  }

  test("qualityRequota: degenerate docs and one-sided sources take the sentinel paths") {
    // the shared degenerate fixture: ids 1/4 are delta under the salted
    // split, 2/3 base; null text (doc 1, delta) drops out of prepared's
    // explode-free row path? No — prepared keeps it with null words, and
    // the score is null: a null score never passes the >= gates and
    // sorts LAST in the rank (nulls last under desc), so the retune
    // stays defined. The assertion pins counts, sentinels and tau shape.
    val r = TextOps.qualityRequota(spark, tmp).collect()
    assert(r.length == 1)
    val row = r.head
    val (nB, nD) = (row.getLong(1), row.getLong(2))
    assert(nB + nD == 4, s"all degenerate docs must be counted: ${row.toSeq}")
    // every degenerate doc scores below 0.5 (or null) -> keep rates 0,
    // target_keep 0, no tau, nothing retuned — on BOTH engines
    assert(row.getLong(3) == 0 && row.getLong(4) == 0,
      s"degenerate docs must not pass the deployed gate: ${row.toSeq}")
    assert(row.getLong(5) == 0 && row.isNullAt(6) &&
      row.getLong(7) == 0 && row.getLong(8) == 0,
      s"zero target must produce null tau and zero retuned: ${row.toSeq}")
  }

  test("distinctKmv: degenerate docs still hash deterministically, sub-k exact") {
    val r = TextOps.distinctKmv(spark, tmp).collect()
    assert(r.length == 1)
    val row = r.head
    // vocabulary of the degenerate fixture: "" (from the empty/whitespace
    // docs) and "x" — null text contributes nothing; 2 distinct hashes,
    // far under k, so the estimate IS the exact count and err is 0
    assert(row.getLong(1) == 2 && row.getLong(3) == 2 && row.getLong(4) == 0,
      s"degenerate KMV row wrong: ${row.toSeq}")
  }

  test("bloom membership: degenerate docs (null/empty norm shingles) never crash or produce false negatives") {
    def hex60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    // the fixture's shingle universe: null (doc 1, dropped by the inner
    // join on a null key in BOTH engines), "" (docs 2-3), "x" (doc 4) —
    // split by the same inc: residue the operator uses
    val isDelta = (id: Long) => hex60(s"inc:$id") % 10 == 0
    val shingleOf = Map(2L -> "", 3L -> "", 4L -> "x")
    val probes = shingleOf.collect { case (id, s) if isDelta(id) => s }.toSet
    val r = TextOps.bloomShingles(spark, tmp).collect()
    assert(r.map(_.getString(0)).toSet == probes,
      s"probe set wrong: ${r.map(_.toSeq).toSeq}")
    assert(!r.exists(_.getString(3) == "fn"),
      s"bloom false negative on degenerate corpus: ${r.map(_.toSeq).toSeq}")
    val st = TextOps.bloomStats(spark, tmp).collect()
    assert(st.length == 3) // incl. the undersized fp-exercise config
    st.foreach { row =>
      val (fpPm, savedPm) = (row.getLong(9), row.getLong(10))
      assert(fpPm == -1L || (fpPm >= 0L && fpPm <= 1000L), s"fp_pm out of range: ${row.toSeq}")
      assert(savedPm == -1L || (savedPm >= 0L && savedPm <= 1000L),
        s"saved_pm out of range: ${row.toSeq}")
    }
    // the maintenance op on the same degenerate corpus: the merge can only
    // add bits, the rebuild arm hashes the merged set at 2m, and the fill
    // columns stay within [0, 1000] on both engines' integer math
    val g = TextOps.bloomGrow(spark, tmp).collect()
    assert(g.length == 1)
    val gr = g.head
    assert(gr.getLong(4) >= gr.getLong(3),
      s"append-only merge lost bits: ${gr.toSeq}")
    assert(gr.getLong(6) >= gr.getLong(5) && gr.getLong(6) <= 1000L,
      s"fill creep out of range: ${gr.toSeq}")
  }

  test("quantileSketch/lenCap: null text counts as 0 tokens on both engines, sub-k exact, no mis-cut") {
    val r = TextOps.quantileSketch(spark, tmp).collect()
    assert(r.length == 3, s"one row per percentile expected: ${r.toSeq}")
    // v multiset: null text → 0, ""/whitespace/1-word docs → 1 each.
    // sorted [0,1,1,1]: p500 rank 2 → 1, p900 rank 3 → 1, p990 rank 3 → 1;
    // 4 docs < k=16 so the sample IS the relation: est == exact, err 0
    r.foreach { row =>
      assert(row.getLong(2) == 4 && row.getLong(3) == 1 &&
        row.getLong(4) == 1 && row.getLong(5) == 0,
        s"degenerate quantile row wrong: ${row.toSeq}")
    }
    val cap = TextOps.lenCap(spark, tmp).collect()
    assert(cap.length == 1 && cap.head.getLong(4) == 0 &&
      cap.head.getLong(5) == 0 && cap.head.getLong(6) == 0,
      s"sub-k degenerate lenCap must cut nothing: ${cap.head.toSeq}")
  }

  test("marginPairs: an empty side mines nothing, never crashes") {
    // all labels even -> B side empty -> no candidate pairs
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f), 0),
      (1L, Seq(0.9f, 0.1f), 2),
      (2L, Seq(0.0f, 1.0f), 4)
    ).toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("edge_margin").toString
    vecs.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    assert(graft.functions.VectorOps
      .marginPairs(spark, dir, k = 2, kCentroids = 1).isEmpty)
  }

  test("marginCore refuses a probe count below 1 instead of mining the full A side") {
    val e = intercept[IllegalArgumentException] {
      VectorOps.marginCore(spark, sf(), lit(true), k = 2, kCentroids = 1,
        minMargin = 1.0, nProbe = 0)
    }
    assert(e.getMessage.contains("nProbe"))
  }

  test("marginRecall: nothing mined yields defined zero permilles, not nulls") {
    // reuse the empty-B-side shape: exact AND approx miners both return
    // nothing -> n_exact = n_mined = 0 -> the guarded divisions must
    // report 0, never a null the summary row silently carries
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f), 0),
      (1L, Seq(0.9f, 0.1f), 2),
      (2L, Seq(0.0f, 1.0f), 4)
    ).toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("edge_mrecall").toString
    vecs.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val r = graft.functions.VectorOps
      .marginRecall(spark, dir, k = 2, kCentroids = 2).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(row.fieldIndex("n_exact")) == 0L)
    assert(row.getLong(row.fieldIndex("n_mined")) == 0L)
    assert(!row.isNullAt(row.fieldIndex("recall_pm"))
      && row.getLong(row.fieldIndex("recall_pm")) == 0L)
    assert(!row.isNullAt(row.fieldIndex("precision_pm"))
      && row.getLong(row.fieldIndex("precision_pm")) == 0L)
  }

  test("bm25: an empty probe doc and an all-stopword probe retrieve nothing, never crash") {
    val docs = Seq(
      (0L, "", "en", "s", 0L),                       // empty probe
      (1L, "stop stop stop", "en", "s", 14L),        // all-ubiquitous probe
      (10L, "stop alpha beta", "en", "s", 15L),
      (11L, "stop gamma delta", "en", "s", 16L),
      (12L, "stop epsilon", "en", "s", 12L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("bm25edge").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // "stop" df = 4/5 = 0.8 <= 0.9 survives the cap here, so probe 1 DOES
    // retrieve; tighten the cap to 0.5 to exercise the all-capped path
    val got = graft.functions.Retrieval.bm25(spark, tmp, probeMax = 2,
      maxDfFrac = 0.5).collect()
    assert(got.isEmpty,
      s"empty and all-stopword probes must retrieve nothing: ${got.toSeq}")
  }

  test("graphRank: an edgeless graph is all teleport floor") {
    val nodes = (0L until 5L).toDF("vec_id")
    val edges = Seq((0L, 0L)).toDF("src", "dst").filter(col("src") =!= col("dst"))
    val got = graft.functions.VectorOps.graphRankCore(nodes, edges,
      iters = 3, damp = 85)
      .collect().map(r => r.getLong(1)).toSet
    assert(got == Set(150000L), "every node must hold the teleport floor")
  }

  test("dsirWeights: an empty target distribution still yields defined weights") {
    // probeMax = 0: no probe docs -> target counts all zero, smoothing
    // only; weights must be defined (smoothing ratio), nothing crashes
    val docs = Seq(
      (5L, "some plain words", "en", "s", 16L),
      (6L, "other plain words", "en", "s", 17L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("dsir0").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = graft.functions.MixOps.dsirWeights(spark, tmp, probeMax = 0,
      buckets = 8).collect()
    assert(got.length == 2 && got.forall(!_.isNullAt(2)))
  }

  test("kAnon at k=1: every row publishes untouched at level 0") {
    val out = TextOps.kAnon(spark, tmp, k = 1)
    assert(out.filter(col("level") =!= 0).isEmpty,
      "k=1 can never fail a nonempty group")
    assert(out.count() == 4)
  }

  test("NbStream: single-class model (the least()-guard branch) scores every arrival") {
    // a corpus whose every doc lands in ONE quality bucket -> one class
    // model -> the scored.size == 1 path must still tag arrivals
    val docs = Seq(
      (1L, "plain short words here", "en", "s", 22L),
      (2L, "more plain short words", "en", "s", 22L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("edge_nb1").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val model = TextOps.nbFrozenModel(spark, dir)
    assert(model.size == 1, s"fixture should train one class, got ${model.map(_.cls)}")
    val scored = graft.streaming.NbStream(
      Seq((9L, "anything at all",
        java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
        .toDF("doc_id", "text", "ingest_ts"), model)
      .select("pred_bucket", "bits").as[(String, Long)].collect()
    assert(scored.length == 1 && scored.head._1 == model.head.cls
      && scored.head._2 > 0)
  }

  test("compressRatio: null and empty docs yield zero bytes and a null ratio") {
    val got = TextOps.compressRatio(spark, tmp).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
    assert(got.length == 4)
    // null text and whitespace-only normalize to no bytes; single char
    // deflates to MORE bytes than input (header overhead) — ratio > 1000
    got.take(3).foreach { case (id, nb, pm, rep) =>
      assert(nb == 0L && pm == -1L && !rep, s"degenerate doc $id: $got")
    }
    assert(got(3)._2 == 1L && got(3)._3 > 1000L)
  }

  test("compressRatioExpr: degenerate docs match the mapPartitions form exactly") {
    val mp = TextOps.compressRatio(spark, tmp).collect().map(_.toSeq).toSeq
    val ex = TextOps.compressRatioExpr(spark, tmp).collect().map(_.toSeq).toSeq
    assert(ex == mp, s"expression form diverges on degenerate docs: $ex vs $mp")
  }

  test("RunDocPipeline.guarded: a forced stage failure warns on stderr and returns the sentinel") {
    val err = new java.io.ByteArrayOutputStream()
    val got = Console.withErr(new java.io.PrintStream(err, true, "UTF-8")) {
      RunDocPipeline.guarded("forced_stage", 42L) {
        throw new IllegalStateException("boom"); 0L
      }
    }
    assert(got == 42L, "sentinel must be returned on failure")
    val msg = err.toString("UTF-8")
    assert(msg.contains("forced_stage") && msg.contains("IllegalStateException")
      && msg.contains("boom"),
      s"failure must be loud with stage name + exception, got: $msg")
    // and the sentinel is machine-visible in the JSON line's
    // degraded_stages field, not only on stderr
    assert(RunDocPipeline.degradedJson.contains("\"forced_stage\""),
      s"sentinel stage must register as degraded: ${RunDocPipeline.degradedJson}")
    // and the happy path is silent + transparent
    val err2 = new java.io.ByteArrayOutputStream()
    val ok = Console.withErr(new java.io.PrintStream(err2, true, "UTF-8")) {
      RunDocPipeline.guarded("quiet_stage", 0L)(7L)
    }
    assert(ok == 7L && err2.toString("UTF-8").isEmpty)
    // fatal JVM conditions must PROPAGATE, never be swallowed into a
    // sentinel that prints a plausible-looking demo line
    intercept[LinkageError] {
      RunDocPipeline.guarded("fatal_stage", 0L) { throw new LinkageError("jvm"); 0L }
    }
  }

  test("curateFunnel: degenerate corpus still emits all seven zero-filled stages") {
    val funnel = TextOps.curateFunnel(spark, tmp)
      .collect().map(r => (r.getInt(0), r.getLong(2), r.getLong(3)))
    assert(funnel.map(_._1).toSeq == (1 to 7), "stages present and ordered")
    assert(funnel.map(_._2).sum == 4, "partition covers the degenerate docs")
    assert(funnel.last._3 == 0L)
  }

  test("abtt: a zero-norm embedding never reaches the projection's divisions (ANSI)") {
    // the r18 lesson: prepared's nrm > 0 filter and abtt's nrm2 > 0
    // filter collapse into one scan predicate, and Catalyst may evaluate
    // the projected divisions on the zero-norm row FIRST — under ANSI
    // that is DIVIDE_BY_ZERO, not Infinity. The checkpoint barrier in
    // abttPairs exists for this row.
    val vecs = Seq(
      (0L, Seq(1.0f) ++ Seq.fill(15)(0.0f), 1),
      (1L, Seq.fill(16)(0.0f), 2),           // the zero vector
      (2L, Seq.fill(16)(1.0f), 3),
      (3L, Seq(-1.0f) ++ Seq.fill(15)(0.0f), 1),
      (4L, Seq.fill(8)(0.5f) ++ Seq.fill(8)(0.0f), 2)
    ).toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("edgevec").toString
    vecs.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val r = VectorOps.abttPairs(spark, dir).collect()(0)
    // cross-foot: the drift columns still partition both pair sets
    assert(r.getLong(0) == r.getLong(2) + r.getLong(3) &&
      r.getLong(1) == r.getLong(2) + r.getLong(4), s"drift cross-foot: $r")
    val a = VectorOps.anisotropy(spark, dir).collect()(0)
    assert(a.getLong(0) == 4, "zero vector excluded from the cloud")
  }

  test("CMS family: degenerate docs count exactly; the sketch only over-estimates; widening only recovers") {
    // vocabulary of the degenerate fixture is {"", "x"}: "" twice (empty
    // + whitespace-only docs), "x" once; the null-text doc drops out
    val hh = TextOps.heavyHitters(spark, tmp).collect()
    assert(hh.map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("" -> 2L, "x" -> 1L), s"exact counts: ${hh.map(_.toSeq).toSeq}")
    hh.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1) && r.getLong(3) >= 0,
        s"CMS must only over-estimate: ${r.toSeq}")
    }
    val hw = TextOps.hhWiden(spark, tmp).collect()
    assert(hw.length == 2)
    hw.foreach { r =>
      // (term, n_exact, est_w64, est_w128, over64, over128, recovered)
      assert(r.getLong(3) <= r.getLong(2) && r.getLong(6) >= 0,
        s"widening must refine, never inflate: ${r.toSeq}")
    }
  }

  test("lshSweep and lshRetune degrade to a 0-candidate report on an empty corpus, never throw") {
    // pins the drift-by-nesting docstring's claim: the r18 form died on
    // collect()(0) here; the r19 form is a broadcast 1-row join and must
    // return a full report with every count at 0
    val dir = java.nio.file.Files.createTempDirectory("edge-empty").toString
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val sweep = TextOps.lshSweep(spark, dir).collect()
    assert(sweep.map(_.getInt(0)).toSeq == Seq(1, 2, 4) &&
      sweep.forall(r => r.getLong(2) == 0 && r.getLong(3) == 0),
      s"empty corpus sweep must be 3 all-zero configs: ${sweep.map(_.toSeq).toSeq}")
    val rt = TextOps.lshRetune(spark, dir).collect()
    assert(rt.length == 1, "retune must still report on an empty corpus")
    val r = rt(0)
    assert(r.getLong(2) == 0 && r.getLong(10) == 0 && r.getLong(11) == 0,
      s"empty corpus retune must report zero candidates and zero drift: ${r.toSeq}")
  }

  test("dirGate refuses an empty embedding relation loudly") {
    // the powerIterTop require: a direction over nothing is undefined —
    // the gate must fail the build, not broadcast a garbage literal
    val dir = java.nio.file.Files.createTempDirectory("edge-novec").toString
    Seq.empty[(Long, String, Seq[Float])]
      .toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    intercept[IllegalArgumentException] {
      VectorOps.dirGate(spark, dir).collect()
    }
  }
}
