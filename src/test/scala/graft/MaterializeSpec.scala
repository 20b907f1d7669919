package graft

import graft.functions.{TextOps, VectorOps}

/** The one mid-plan materialization ([[Materialize]]) and the session memo
  * of shared relations built through it ([[SharedRel]]): memoization per
  * key, build-time accounting, the plans [[SharedRel.capture]] records, and
  * the source pins that keep every checkpoint and every shared key visible.
  */
class MaterializeSpec extends SparkSuite {

  /** Every `src/main` Scala file (path relative to the package root, text);
    * the source pins below run from the repo root.
    */
  private def mainSources(): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val srcDir = java.nio.file.Paths.get("src/main/scala/graft")
    assume(java.nio.file.Files.isDirectory(srcDir), "runs from the repo root")
    val walk = java.nio.file.Files.walk(srcDir)
    try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => srcDir.relativize(p).toString -> new String(
        java.nio.file.Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8))
      .toList
    finally walk.close()
  }

  test("SharedRel memoizes per key") {
    var builds = 0
    def build(): org.apache.spark.sql.DataFrame = {
      builds += 1
      import spark.implicits._
      Seq((1L, "x")).toDF("id", "v")
    }
    val k = s"spec-${System.nanoTime()}" // unique per run: the memo is session-global
    val a = SharedRel(spark, k)(build())
    val b = SharedRel(spark, k)(build())
    assert(builds == 1, "same (session, key) must reuse the materialized build")
    assert(a.collect().toSeq == b.collect().toSeq)
    assert(SharedRel(spark, k + "|other")(build()) ne a)
    assert(builds == 2, "a different key must build")
  }

  test("SharedRel reports a nested memo-miss build once, under the outer key") {
    // a fresh session starts with no builds on record
    val s = spark.newSession()
    val built = SharedRel.once(s, "outer|t") {
      val inner = SharedRel.once(s, "inner|t") { Thread.sleep(200); 1 }
      Thread.sleep(100)
      inner + 1
    }
    assert(built == 2)
    val breakdown = SharedRel.buildBreakdown(s)
    assert(breakdown.map(_._1) == Seq("outer|t"), s"inner build reported on its own: $breakdown")
    val outer = breakdown.head._2
    assert(outer >= 0.3, s"the outer build's time must contain the inner one's: $outer")
    assert(SharedRel.buildSeconds(s) == outer, "buildSeconds must count the outer build once")
    // the inner result was memoized too: a second call neither builds nor adds time
    assert(SharedRel.once[Int](s, "inner|t")(fail("rebuilt a memo hit")) == 1)
    assert(SharedRel.buildSeconds(s) == outer)
  }

  test("SharedRel.capture labels each build with its own key, nested builds with theirs") {
    // a fresh session: the memo is empty, so lm2Bits builds the shared
    // token relation inside its own build
    val s = spark.newSession()
    val dir = sf()
    val (out, runs) = SharedRel.capture(s)(TextOps.lm2Bits(s, dir))
    assert(runs.map(_._1) == Seq(s"prepared|$dir", s"lm2|$dir"))
    // the outer build's plan is the one that ran: it reads the nested
    // build's checkpoint, and its output is the memoized relation
    assert(runs(1)._2.toString.contains("ExistingRDD"), runs(1)._2.toString)
    assert(out.count() > 0)
    // a memo hit runs nothing and records nothing
    val (_, again) = SharedRel.capture(s)(TextOps.lm2Bits(s, dir))
    assert(again.isEmpty, s"a memo hit recorded: ${again.map(_._1)}")
  }

  test("SharedRel.capture records one plan per round of a per-round operator, and nothing outside") {
    val s = spark.newSession()
    val nodes = s.range(4).toDF("vec_id")
    val edges = s.createDataFrame(Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L)))
      .toDF("src", "dst")
    val (_, runs) = SharedRel.capture(s)(
      VectorOps.graphRankCore(nodes, edges, iters = 3, damp = 85))
    assert(runs.map(_._1) == Seq("", "", ""), s"rounds: ${runs.map(_._1)}")
    assert(runs.forall(_._2.toString.contains("HashAggregate")))
    // a checkpoint on another session inside a capture, and one outside
    // any capture, are never recorded
    val (_, other) = SharedRel.capture(s)(Materialize(spark.range(3).toDF()))
    assert(other.isEmpty)
    Materialize(s.range(3).toDF())
    assert(SharedRel.capture(s)(())._2.isEmpty, "a checkpoint outside capture was kept")
  }

  test("every mid-plan checkpoint in src/main goes through Materialize") {
    // a direct localCheckpoint would pin a relation that SharedRel.capture
    // (and so every plan audit and graft.Explain) cannot see
    val direct = mainSources().collect {
      case (p, text) if p != "Materialize.scala" && text.contains("localCheckpoint(") => p
    }.sorted
    assert(direct.isEmpty, s"localCheckpoint( outside Materialize.scala in: $direct")
  }

  test("SharedRel key inventory matches the PLANS shared_build contract, and every call site's key is extractable") {
    // the shared_build contract (PLANS.md, r19): every SharedRel key must
    // have >= 2 consuming queries or be demoted inline. The rule itself is
    // reviewed per key; THIS pin makes key ADDITION/REMOVAL a deliberate
    // act — a new key fails here until the PLANS key table names its
    // consumers and this set is updated in the same commit.
    val call = """(?s)SharedRel(?:\.once)?\(.{0,200}?s"([a-z0-9-]+)\|""".r
    // every call site, whether or not its key literal is extractable —
    // `SharedRel.buildSeconds(` etc. don't match (no `(` after the name)
    val callSite = """SharedRel(?:\.once)?\(""".r
    val keys = mainSources().flatMap { case (p, text) =>
      val sites = callSite.findAllMatchIn(text).size
      val extracted = call.findAllMatchIn(text).map(_.group(1)).toSeq
      // FAIL-CLOSED (r19 ADVICE → r20 prescription 3): a call whose key
      // the extractor can't see (helper-assembled, >200 chars away, not
      // an s"key|..." literal) would otherwise escape the inventory pin
      // SILENTLY. Convention: every SharedRel call writes its key as an
      // inline s"name|..." literal at the call site.
      assert(sites == extracted.size,
        s"$p has $sites SharedRel call sites but only ${extracted.size} " +
          s"extractable s\"key|...\" literals — every call must inline " +
          s"its key so the inventory pin can see it")
      extracted
    }.toSet
    assert(keys == MaterializeSpec.pinnedSharedRelKeys,
      s"SharedRel key inventory drifted — update the PLANS 'shared_build " +
        s"contract' key table (naming >= 2 consumers for any new key) and " +
        s"this pin together: extra=${(keys -- MaterializeSpec.pinnedSharedRelKeys).toSeq.sorted} " +
        s"missing=${(MaterializeSpec.pinnedSharedRelKeys -- keys).toSeq.sorted}")
  }

  test("committed bench artifacts' shared_build_detail keys all parse to pinned inventory names") {
    // r20 prescription 5: the contract has three legs (bench artifact,
    // PLANS key table, the source-grep pin above) but nothing asserted
    // they AGREE — a key present in a committed BENCH_LOCAL*.json must
    // strip (at the first '|') to a name in the pinned inventory, or the
    // artifact is recording shared work the contract doesn't govern.
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val artifacts = Seq("BENCH_LOCAL.json", "BENCH_LOCAL_PERMUTED.json",
      "BENCH_LOCAL_MIN.json")
      .map(java.nio.file.Paths.get(_))
      .filter(java.nio.file.Files.exists(_))
    assume(artifacts.nonEmpty, "runs from a repo root with committed bench artifacts")
    artifacts.foreach { p =>
      val root = mapper.readTree(java.nio.file.Files.readAllBytes(p))
      val detail = root.get("shared_build_detail")
      if (detail != null) {
        import scala.jdk.CollectionConverters._
        val prefixes = detail.fieldNames().asScala.map(_.split('|').head).toSet
        val rogue = prefixes -- MaterializeSpec.pinnedSharedRelKeys
        assert(rogue.isEmpty,
          s"$p records shared_build keys outside the pinned inventory: " +
            s"${rogue.toSeq.sorted} — either the key was renamed without " +
            s"updating the pin or the artifact is stale")
      }
    }
  }

  test("external-relation ANN operators refuse a mismatched codebook loudly") {
    import spark.implicits._
    // a centroid relation missing cn must throw, not silently null every
    // cos_sim (ADVICE r7)
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val badCents = Seq((0, Seq(1.0, 0.0))).toDF("centroid_id", "cv")
    intercept[IllegalArgumentException] {
      VectorOps.annIvfMultiWith(e, badCents, nQueries = 2, kNn = 2, nProbe = 1)
    }
  }
}

object MaterializeSpec {
  /** The shared_build contract's key inventory (PLANS.md "shared_build
    * contract (round 19)") — ONE copy, consumed by both the source-grep
    * inventory pin and the committed-artifact cross-check above.
    */
  val pinnedSharedRelKeys: Set[String] = Set(
    // derived-relation keys (SharedRel.apply)
    "prepared", "readings", "minhash-banded", "minhashpairs", "jacpairs",
    "shingle-pairs", "dupcc", "dupspans", "spancuts",
    "lshsweep", "bm25idx", "contam", "decontam", "curate", "curatebase",
    "wordcounts",
    "dsir", "lm2", "nbpred", "bloombits", "bloomprobe", "ivf", "ivfsim",
    "kmtrained", "pq", "knng", "semcc", "marginexact", "staleedges",
    "stalehits", "neardup", "anngraph", "anngraphf", "phash", "afp",
    "vframes", "annhits", "knnexact", "margpairs",
    // once-scaffold keys (SharedRel.once)
    "bloomsplit", "powertop", "topics", "incrstate", "incrbase")
}
