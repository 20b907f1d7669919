package graft

import java.nio.file.Files

import graft.functions.{TextOps, VectorOps}

/** The Materialize strategy switch: Local (executor-local checkpoint, the
  * single-node default) vs Table (parquet round-trip, the fault-tolerant
  * cluster posture). Consumers must produce identical results through both.
  */
class MaterializeSpec extends SparkSuite {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** `mat-*` subdirs a Table materialization wrote under `dir`: one per
    * materialization point, so an exact count pins that `Table` reaches
    * every point of the chain (a stage that silently fell back to `Local`
    * would write one fewer).
    */
  private def matDirs(dir: String): Int =
    new java.io.File(dir).listFiles().count(_.getName.startsWith("mat-"))

  test("Table materialization writes parquet rounds and preserves the relation") {
    val dir = Files.createTempDirectory("graft-mat").toString
    val mat = Materialize.Table(dir)
    val df = spark.range(10).toDF("id")
    assert(rows(mat(df)) == rows(df))
    assert(rows(mat(df.selectExpr("id * 2 AS id"))) == rows(df.selectExpr("id * 2 AS id")))
    // one subdir per materialization — iterating consumers don't clobber
    assert(matDirs(dir) == 2)
  }

  test("dupClusters through the Table path matches the Local path") {
    // the iterating consumer: banded signatures + incidence + one
    // materialization per propagation round all flow through the strategy
    val dir = Files.createTempDirectory("graft-mat-cc").toString
    val local = TextOps.dupClusters(spark, sf())
    val table = TextOps.dupClusters(spark, sf(), mat = Materialize.Table(dir))
    assert(rows(table) == rows(local))
    // the cluster relation, its banded signatures, the incidence, the
    // initial labels, and one per propagation round (5 on this fixture)
    assert(matDirs(dir) == 9)
  }

  test("kmeansStep through the Table path matches the Local path") {
    val dir = Files.createTempDirectory("graft-mat-km").toString
    val local = VectorOps.kmeansStep(spark, sf())
    val table = VectorOps.kmeansStep(spark, sf(), mat = Materialize.Table(dir))
    assert(rows(table) == rows(local))
    assert(matDirs(dir) == 1) // the shared IVF assignment
  }

  test("SharedRel memoizes per key for Local and never caches Table materializations") {
    var builds = 0
    def build(): org.apache.spark.sql.DataFrame = {
      builds += 1
      import spark.implicits._
      Seq((1L, "x")).toDF("id", "v")
    }
    val k = s"spec-${System.nanoTime()}" // unique per run: the memo is session-global
    val a = SharedRel(spark, k, Materialize.Local)(build())
    val b = SharedRel(spark, k, Materialize.Local)(build())
    assert(builds == 1, "same (session, key) must reuse the materialized build")
    assert(a.collect().toSeq == b.collect().toSeq)
    assert(SharedRel(spark, k + "|other", Materialize.Local)(build()) ne a)
    assert(builds == 2, "a different key must build")
    // Table is caller-owned output, not a cache: every call must build
    val dir = Files.createTempDirectory("graft-sharedrel").toString
    SharedRel(spark, k, Materialize.Table(dir))(build())
    SharedRel(spark, k, Materialize.Table(dir))(build())
    assert(builds == 4, "Table materializations must never be memoized")
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
    val (_, other) = SharedRel.capture(s)(Materialize.Local(spark.range(3).toDF()))
    assert(other.isEmpty)
    Materialize.Local(s.range(3).toDF())
    assert(SharedRel.capture(s)(())._2.isEmpty, "a checkpoint outside capture was kept")
  }

  test("training loops run through the Table path: identical output, objective intact") {
    // the r7 carry-over: kmeansTrain / pqTrainCodebook hard-coded
    // localCheckpoint — on a cluster one lost executor killed a training
    // run. Both must take the strategy and produce identical state.
    val dir = Files.createTempDirectory("graft-mat-train").toString
    val (cLocal, objLocal) = VectorOps.kmeansTrain(spark, sf(), k = 4, iters = 2)
    val (cTable, objTable) = VectorOps.kmeansTrain(spark, sf(), k = 4, iters = 2,
      mat = Materialize.Table(s"$dir/km"))
    assert(rows(cTable) == rows(cLocal))
    // objectives are floating-point SUMS: partition/order differences
    // between the two materialization strategies can shift the last bits,
    // so compare with tolerance (the centroid rows above stay exact)
    // RELATIVE tolerance: objectives are data-magnitude sums, so a fixed
    // absolute 1e-9 would flake on larger fixtures for the very
    // reassociation error it exists to tolerate
    def close(a: Double, b: Double): Boolean =
      math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(a))
    assert(objTable.size == objLocal.size &&
      objTable.zip(objLocal).forall { case (a, b) => close(a, b) },
      s"objectives diverged: $objTable vs $objLocal")
    objTable.sliding(2).foreach {
      case Seq(a, b) => assert(b >= a - 1e-9 * math.max(1.0, math.abs(a)))
      case _ =>
    }

    val (bLocal, trLocal) = VectorOps.pqTrainCodebook(spark, sf(), blocks = 2, k = 4, iters = 2)
    val (bTable, trTable) = VectorOps.pqTrainCodebook(spark, sf(), blocks = 2, k = 4, iters = 2,
      mat = Materialize.Table(s"$dir/pq"))
    assert(rows(bTable) == rows(bLocal))
    assert(trTable.size == trLocal.size &&
      trTable.zip(trLocal).forall { case (ta, tb) =>
        ta.size == tb.size &&
          ta.zip(tb).forall { case (a, b) => close(a, b) }
      }, s"trace diverged: $trTable vs $trLocal")
    // the pinned corpus + one pinned assignment per round, for each trainer
    assert(matDirs(s"$dir/km") == 3)
    assert(matDirs(s"$dir/pq") == 3)
  }

  test("SharedRel key inventory matches the PLANS shared_build contract, and every call site's key is extractable") {
    // the shared_build contract (PLANS.md, r19): every SharedRel key must
    // have >= 2 consuming queries or be demoted inline. The rule itself is
    // reviewed per key; THIS pin makes key ADDITION/REMOVAL a deliberate
    // act — a new key fails here until the PLANS key table names its
    // consumers and this set is updated in the same commit.
    import scala.jdk.CollectionConverters._
    val srcDir = java.nio.file.Paths.get("src/main/scala/graft")
    assume(java.nio.file.Files.isDirectory(srcDir), "runs from the repo root")
    val call = """(?s)SharedRel(?:\.once)?\(.{0,200}?s"([a-z0-9-]+)\|""".r
    // every call site, whether or not its key literal is extractable —
    // `SharedRel.buildSeconds(` etc. don't match (no `(` after the name)
    val callSite = """SharedRel(?:\.once)?\(""".r
    val walk = java.nio.file.Files.walk(srcDir)
    val keys =
      try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          val text = new String(java.nio.file.Files.readAllBytes(p),
            java.nio.charset.StandardCharsets.UTF_8)
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
      finally walk.close()
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
    // codebook trained with blocks=2 fed to a blocks=4 query must throw,
    // not silently null every adc_score (ADVICE r7)
    val (book2, _) = VectorOps.pqTrainCodebook(spark, sf(), blocks = 2, k = 4, iters = 1)
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    intercept[IllegalArgumentException] {
      VectorOps.recall(spark, sf(),
        VectorOps.annPqWith(VectorOps.prepared(spark, sf()), book2, 20, 5, 4), 20, 5)
    }
    // centroid relation missing cn: same contract
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
