package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Exprs, Materialize, Tables}
import graft.operators.Dedup

/** Embedding similarity-search operators over the `embeddings` table
  * (builder brief: brute-force cosine top-k baseline + an LSH-bucketed
  * variant as the 100 TB scale path).
  *
  * Dot products use sequential left-to-right accumulation (`aggregate` over
  * `zip_with`) in double precision — the same order DuckDB's
  * `list_dot_product` uses — so similarities are oracle-comparable; ranks are
  * computed on 4-decimal-rounded similarity with an id tie-break so a
  * last-bit float divergence can't flip an ordering.
  *
  * Scale notes: brute-force top-k is a broadcast of the (small) query set
  * against a partitioned scan of the corpus — linear, no shuffle of the
  * corpus. The LSH variant buckets by hyperplane signs so the self-join key
  * bounds fan-out; with random vectors each extra bucket bit halves the
  * candidate set.
  */
object VectorOps {

  /** Elementwise dot product of two double arrays, sequential accumulation.
    * Backed by the native codegen'd [[graft.plans.DotProduct]] expression —
    * the built-in `aggregate(zip_with(...))` form allocates an intermediate
    * array per row and was ~20× slower on the pairwise similarity joins.
    */
  def dot(a: Column, b: Column): Column =
    graft.plans.ArrayExprs.dotNative(a, b)

  /** The pure-built-in formulation, kept as the reference semantics the
    * native expression must match (see DotProductSpec).
    */
  def dotBuiltin(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** embeddings with the float vector cast to double + precomputed norm.
    * Zero-norm vectors are excluded at the source: cosine direction is
    * undefined for them, and the engines disagree on double /0 (Spark IEEE
    * Infinity/NaN vs DuckDB NULL), so a zero vector downstream would both
    * emit garbage ranks and break the differential oracle.
    */
  def prepared(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).select(
      col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .filter(col("nrm") > 0)

  val preparedSql: String =
    """SELECT * FROM (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS v,
      |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings)
      |WHERE nrm > 0""".stripMargin

  /** The ANN family's trained relations — corpus→centroid assignment
    * ([[ivfAssign]]) and corpus PQ codes ([[pqAssign]]) — shared across
    * queries per session via [[graft.SharedRel]]: every IVF/PQ query needs
    * them, assignment is deterministic, so reuse changes no values, only
    * work (a bench run previously rebuilt the identical assignment ~6×).
    */
  private def sharedIvfAssign(spark: SparkSession, dir: String, k: Int): DataFrame =
    graft.SharedRel(spark, s"ivf|$dir|$k")(
      ivfAssign(spark, dir, k).select("vec_id", "centroid_id"))

  private def sharedPqCodes(spark: SparkSession, dir: String, blocks: Int,
                            k: Int): DataFrame =
    graft.SharedRel(spark, s"pq|$dir|$blocks|$k")(
      pqAssign(spark, dir, blocks, k))

  /** The quantized-Lloyd trained centroid relation, session-shared: the
    * trained-recall harness and the trained margin miner consume the same
    * deterministic k×dim relation — retraining it per query is pure waste.
    */
  private def sharedTrained(spark: SparkSession, dir: String, k: Int,
                            iters: Int): DataFrame =
    graft.SharedRel(spark, s"kmtrained|$dir|$k|$iters")(
      kmeansTrainRounded(spark, dir, k, iters))

  /** Approximate top-k hit relations, session-shared (key `annhits`, one
    * segment per search variant + its full parameterization): every
    * `v_ann_X` / `v_recall_X` pair consumed the SAME deterministic
    * (q_id, rank, neighbor_id, score) relation — nQueries×k rows — yet ran
    * the search twice per session (and the PQ re-rank tiers ran the
    * shortlist search a third time). A production serving stack computes
    * an index's search results once and grades recall from the stored
    * run; recomputing the identical search inside each audit row is pure
    * waste, and reuse is value-neutral (every variant's ranking is
    * rounded/integer-quantized with id tie-breaks — deterministic).
    */
  private def sharedAnnHits(spark: SparkSession, variant: String, dir: String,
                            params: String)(build: => DataFrame): DataFrame =
    graft.SharedRel(spark, s"annhits|$variant|$dir|$params")(build)

  /** The exact brute-force top-k baseline every `v_recall_*` harness
    * compares against, session-shared as its narrow (q_id, neighbor_id)
    * projection (key `knnexact`; the `f` variant is the label-filtered
    * baseline [[knnFiltered]]): ~17 recall rows re-ran the identical
    * corpus scan + top-k per session. The registered `v_knn` /
    * `v_knn_filtered` queries keep their own live plans (different k, and
    * they ARE the baseline's declared audit surface).
    */
  private def sharedKnnExact(spark: SparkSession, dir: String,
                             nQueries: Int, k: Int): DataFrame =
    graft.SharedRel(spark, s"knnexact|$dir|$nQueries|$k")(
      knn(spark, dir, nQueries, k).select(col("q_id"), col("neighbor_id")))

  private[graft] def sharedKnnFilteredExact(spark: SparkSession, dir: String,
                                            nQueries: Int, k: Int): DataFrame =
    graft.SharedRel(spark, s"knnexact|f|$dir|$nQueries|$k")(
      knnFiltered(spark, dir, nQueries, k).select(col("q_id"), col("neighbor_id")))

  /** Per-vector norms — the smallest verifiable unit of the vector path. */
  def norms(spark: SparkSession, dir: String): DataFrame =
    prepared(spark, dir).select(
      col("vec_id"), col("label"),
      size(col("v")).as("dim"),
      round(col("nrm"), 4).as("l2_norm"))

  val normsSql: String =
    s"""SELECT vec_id, label, CAST(len(v) AS INT) AS dim, round(nrm, 4) AS l2_norm
       |FROM ($preparedSql) ORDER BY vec_id""".stripMargin

  /** The tail every ANN search ends in: per query, the `k` candidates with
    * the highest `score` (ties by vec_id) as (q_id, rank, neighbor_id,
    * score) — the hit shape [[recall]] and [[sharedAnnHits]] consume.
    */
  private def topHits(sims: DataFrame, score: String, k: Int): DataFrame =
    Exprs.keepTop(sims, Seq(col("q_id")), Seq(col(score).desc, col("vec_id")), k, "rank")
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"), col(score))

  /** IVF probe order for a vector row against a centroid row `(cv, cn)`:
    * cosine, best first, ties by centroid id. Its top 1 is the vector's
    * cell, its top nProbe the cells a query probes.
    */
  private[graft] def nearestCentroid: Seq[Column] =
    Seq((dot(col("v"), col("cv")) / (col("nrm") * col("cn"))).desc, col("centroid_id"))

  /** PQ encoding: per (vector, block), the codeword `cid` with the highest
    * `score` = ⟨sv, cv⟩ − ½‖cv‖² (the L2-nearest one), ties by cid.
    */
  private def nearestCodeword(sub: DataFrame, rankCol: String): DataFrame =
    Dedup.keepFirst(sub.withColumn("score",
        dot(col("sv"), col("cv")) - lit(0.5) * dot(col("cv"), col("cv"))),
      Seq(col("vec_id"), col("block")), Seq(col("score").desc, col("cid")), rankCol)

  /** Brute-force cosine top-k: the first `nQueries` vectors (by id) against
    * the whole corpus. Query set is broadcast; corpus is scanned once.
    */
  def knn(spark: SparkSession, dir: String, nQueries: Int = 20, k: Int = 10): DataFrame = {
    val all = prepared(spark, dir)
    val q = broadcast(all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")))
    val sims = all.join(q, col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim", round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4))
    topHits(sims, "cos_sim", k)
      .orderBy(col("q_id"), col("rank"))
  }

  def knnSql(nQueries: Int = 20, k: Int = 10): String =
    s"""WITH e AS ($preparedSql),
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e WHERE vec_id < $nQueries),
       |sims AS (
       |  SELECT q.q_id, e.vec_id,
       |    round(list_dot_product(q.qv, e.v) / (q.qn * e.nrm), 4) AS cos_sim
       |  FROM e, q WHERE e.vec_id <> q.q_id)
       |SELECT q_id, rank, vec_id AS neighbor_id, cos_sim FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (
       |    PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS INT) AS rank
       |  FROM sims)
       |WHERE rank <= $k
       |ORDER BY q_id, rank""".stripMargin

  /** Exact near-duplicate pairs: all pairs with cosine ≥ threshold.
    * Quadratic — the correctness baseline the LSH variant is measured
    * against; run it only at verification scale. That contract is
    * mechanical, not advisory: the operator refuses an input larger than
    * `maxRows` (counted before the self-join) instead of silently starting
    * an n² job — at corpus scale use [[nearDupLsh]].
    */
  def nearDupExact(spark: SparkSession, dir: String, threshold: Double = 0.4,
                   maxRows: Long = 100000L): DataFrame = {
    val e = prepared(spark, dir)
    val n = e.count()
    require(n <= maxRows,
      s"nearDupExact is an all-pairs verification baseline: input has $n rows > " +
        s"maxRows=$maxRows (~${n * n / 2} candidate pairs). Use nearDupLsh at scale, " +
        "or raise maxRows explicitly if this really is a verification run.")
    val a = e.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos_sim", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos_sim"), 4).as("cos_sim"))
      .orderBy(col("id_a"), col("id_b"))
  }

  def nearDupExactSql(threshold: Double = 0.4): String =
    s"""WITH e AS ($preparedSql)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |  round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos_sim
       |FROM e a JOIN e b ON a.vec_id < b.vec_id
       |WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= $threshold
       |ORDER BY id_a, id_b""".stripMargin

  /** Sign-hyperplane LSH bucket: the signs of the first `bits` coordinates
    * (coordinate axes as hyperplanes — deterministic and oracle-expressible,
    * unlike random projections).
    */
  private[graft] def bucketExpr(v: Column, bits: Int): Column =
    concat_ws("", (0 until bits).map(i =>
      when(element_at(v, i + 1) >= 0, "1").otherwise("0")): _*)

  private def bucketSql(bits: Int): String =
    (0 until bits).map(i =>
      s"CASE WHEN v[${i + 1}] >= 0 THEN '1' ELSE '0' END").mkString(" || ")

  /** LSH-bucketed near-dup: candidates only within the same sign bucket.
    * The scale path — trades recall for a bounded join fan-out.
    */
  def nearDupLsh(spark: SparkSession, dir: String, threshold: Double = 0.4, bits: Int = 4): DataFrame =
    // session-shared: the near-dup pair relation is the input of
    // v_neardup_lsh, semantic dedup (d_semantic_dedup + both corpus
    // builds) — a production pipeline maintains this pair index, not
    // per-query rebuilds of the bucketed self-join
    graft.SharedRel(spark, s"neardup|$dir|$threshold|$bits")(
      lshPairsOn(prepared(spark, dir), threshold, bits))

  /** The bucketed pair join over an arbitrary (vec_id, v, nrm) relation —
    * shared by [[nearDupLsh]] (the corpus relation, session-shared) and
    * [[embedRefresh]] (the post-repair audit pass over refreshed vectors).
    */
  private def lshPairsOn(rel: DataFrame, threshold: Double, bits: Int): DataFrame = {
    val e = rel.withColumn("bkt", bucketExpr(col("v"), bits))
    val a = e.select(col("bkt"), col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("bkt"), col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("bkt")).filter(col("id_a") < col("id_b"))
      .withColumn("cos_sim", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos_sim") >= threshold)
      .select(col("bkt"), col("id_a"), col("id_b"), round(col("cos_sim"), 4).as("cos_sim"))
      .orderBy(col("id_a"), col("id_b"))
  }

  def nearDupLshSql(threshold: Double = 0.4, bits: Int = 4): String =
    s"""WITH e AS (SELECT *, ${bucketSql(bits)} AS bkt FROM ($preparedSql))
       |SELECT a.bkt, a.vec_id AS id_a, b.vec_id AS id_b,
       |  round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos_sim
       |FROM e a JOIN e b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
       |WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= $threshold
       |ORDER BY id_a, id_b""".stripMargin

  /** Power-iteration top principal direction of the UNIT-normalized
    * embedding cloud — the [[kmeansTrainRounded]] bounded-driver-state
    * contract applied to the covariance spectrum: each round is ONE
    * broadcast of the current dim-vector literal, one map-side-combined
    * per-dimension agg (`round(avg(u_d · (u·x)), 4)` — the kmeans
    * rounding trick re-anchors both engines every round), and one 1-row
    * norm agg; the driver only ferries the rounded 64 doubles to the
    * next round's literal, never the corpus. The SQL oracle unrolls the
    * identical rounds as CTEs ([[kmeansTrainRoundedCtes]] precedent).
    * Seed x₀ = the smallest-id unit vector, rounded.
    */
  private[graft] def powerIterTop(spark: SparkSession, dir: String,
                                  iters: Int = 3): Seq[Double] =
    // session-shared (SharedRel.once): the direction feeds BOTH the
    // monitor (v_anisotropy) and its action (v_abtt) — the deployment
    // computes it once per corpus snapshot
    graft.SharedRel.once(spark, s"powertop|$dir|$iters") {
      import spark.implicits._
      val e = prepared(spark, dir)
      var x: Seq[Double] = e.orderBy("vec_id").limit(1)
        .select(col("nrm"), posexplode(col("v")).as(Seq("dim", "comp")))
        .select(col("dim"), round(col("comp") / col("nrm"), 4).as("x"))
        .orderBy("dim").as[(Int, Double)].collect().map(_._2).toSeq
      // loud refusal, not an IndexOutOfBounds: the monitor is undefined on
      // an empty cloud (and a 0-row oracle could not be compared anyway)
      require(x.nonEmpty, s"anisotropy needs a non-empty embedding relation: $dir")
      for (_ <- 1 to iters) {
        val xl = typedlit(x)
        val y = e.withColumn("dp", dot(col("v"), xl) / col("nrm"))
          .select(col("nrm"), col("dp"), posexplode(col("v")).as(Seq("dim", "comp")))
          .groupBy("dim")
          .agg(round(avg(col("comp") / col("nrm") * col("dp")), 4).as("y"))
        val nY = y.agg(greatest(sqrt(sum(col("y") * col("y"))), lit(1e-12)).as("n"))
        x = y.crossJoin(broadcast(nY))
          .select(col("dim"), round(col("y") / col("n"), 4).as("x"))
          .orderBy("dim").as[(Int, Double)].collect().map(_._2).toSeq
      }
      x
    }

  /** The power rounds unrolled as DuckDB CTEs, ending in `xl$iters`
    * (a 1-row relation holding the final direction as a list) — shared
    * by [[anisotropySql]] and [[abttPairsSql]].
    */
  private def powerIterCtes(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      val prev = s"xl${i - 1}"
      s"""y$i AS (
         |  SELECT i AS dim, round(avg(v[i] / nrm
         |      * (list_dot_product(v, xl) / nrm)), 4) AS y
         |  FROM e0, $prev, unnest(range(1, len(v) + 1)) AS t(i)
         |  GROUP BY i),
         |n$i AS (SELECT greatest(sqrt(list_dot_product(
         |  list(y ORDER BY dim), list(y ORDER BY dim))), 1e-12) AS n FROM y$i),
         |xl$i AS (
         |  SELECT list(round(y / n, 4) ORDER BY dim) AS xl
         |  FROM y$i, n$i)""".stripMargin
    }.mkString(",\n")
    s"""x0 AS (
       |  SELECT i AS dim, round(v[i] / nrm, 4) AS x
       |  FROM (SELECT v, nrm FROM e0 ORDER BY vec_id LIMIT 1),
       |       unnest(range(1, len(v) + 1)) AS t(i)),
       |xl0 AS (SELECT list(x ORDER BY dim) AS xl FROM x0),
       |$rounds""".stripMargin
  }

  /** Embedding-space anisotropy monitor — the common-direction report a
    * curation pipeline reads before trusting cosine dedup (Mu &
    * Viswanath, ICLR 2018 "All-but-the-Top": contextual embedding clouds
    * share a large common component that inflates all cosines): the
    * power-iteration top direction's Rayleigh share of the unit-sphere
    * spectrum (`eig_share` — the trace of the normalized covariance is
    * exactly 1, so this IS the top eigenvalue's fraction), the mean
    * vector's norm (the classic non-centered measure), and the cosine
    * between the two (≈1 says the top direction IS the common mean).
    * One row; everything after the final rounded direction is one pass.
    */
  def anisotropy(spark: SparkSession, dir: String, iters: Int = 3): DataFrame = {
    import spark.implicits._
    val e = prepared(spark, dir)
    val top = powerIterTop(spark, dir, iters)
    val xl = typedlit(top)
    val xRel = broadcast(
      top.zipWithIndex.map { case (v, i) => (i + 1, v) }.toDF("dim", "x"))
    val head = e.agg(count(lit(1)).as("n"),
      round(avg(pow(dot(col("v"), xl) / col("nrm"), 2)), 4).as("eig_share"))
    val mean = e.select(col("nrm"), posexplode(col("v")).as(Seq("dim0", "comp")))
      .withColumn("dim", col("dim0") + 1)
      .groupBy("dim").agg(round(avg(col("comp") / col("nrm")), 4).as("m"))
    val meanStats = mean.join(xRel, "dim")
      .agg(sqrt(sum(col("m") * col("m"))).as("mn"),
        abs(sum(col("m") * col("x"))).as("mx"))
      .select(round(col("mn"), 4).as("mean_norm"),
        round(col("mx") / greatest(col("mn"), lit(1e-12)), 4).as("cos_mean_top"))
    head.crossJoin(broadcast(meanStats))
      .select(col("n"), col("eig_share"), col("mean_norm"), col("cos_mean_top"))
  }

  def anisotropySql(iters: Int = 3): String =
    s"""WITH e0 AS ($preparedSql),
       |${powerIterCtes(iters)},
       |head AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    round(avg(pow(list_dot_product(v, xl) / nrm, 2)), 4) AS eig_share
       |  FROM e0, xl$iters),
       |mean AS (
       |  SELECT i AS dim, round(avg(v[i] / nrm), 4) AS m
       |  FROM e0, unnest(range(1, len(v) + 1)) AS t(i) GROUP BY i),
       |ms AS (
       |  SELECT round(sqrt(sum(m * m)), 4) AS mean_norm,
       |    round(abs(sum(m * xl[dim])) / greatest(sqrt(sum(m * m)), 1e-12), 4)
       |      AS cos_mean_top
       |  FROM mean, xl$iters)
       |SELECT n, eig_share, mean_norm, cos_mean_top FROM head, ms""".stripMargin

  /** The anisotropy monitor's ADMISSION form — the batch anchor of
    * [[graft.streaming.DirGateStream]] (the in-stream gate scores
    * arrivals with the identical expression over the identical frozen
    * direction): every vector's boilerplate-direction score
    * `dp = (v·u)/|v|` against the power-iteration top direction, plus
    * the over-threshold verdict on |dp| — a vector that IS mostly the
    * common direction carries shared boilerplate, not content. One
    * broadcast 64-double literal + a row-local codegen'd fold; the
    * direction build is session-shared with `v_anisotropy`/`v_abtt`.
    * `dp` is rounded to 4 before the verdict so both engines gate on
    * the same value (the [[nearDupLsh]] cos_sim precedent).
    */
  def dirGate(spark: SparkSession, dir: String, thr: Double = 0.99,
              iters: Int = 3): DataFrame = {
    val xl = typedlit(powerIterTop(spark, dir, iters))
    prepared(spark, dir)
      .withColumn("dp", round(dot(col("v"), xl) / col("nrm"), 4))
      .select(col("vec_id"), col("dp"), lit(thr).as("thr"),
        (abs(col("dp")) >= thr).as("boilerplate"))
      .orderBy("vec_id")
  }

  def dirGateSql(thr: Double = 0.99, iters: Int = 3): String =
    s"""WITH e0 AS ($preparedSql),
       |${powerIterCtes(iters)}
       |SELECT vec_id,
       |  round(list_dot_product(v, xl) / nrm, 4) AS dp,
       |  CAST($thr AS DOUBLE) AS thr,
       |  abs(round(list_dot_product(v, xl) / nrm, 4)) >= $thr AS boilerplate
       |FROM e0, xl$iters ORDER BY vec_id""".stripMargin

  /** The anisotropy monitor's ACTION — all-but-the-top (Mu & Viswanath
    * 2018): project the common direction OUT of every unit vector
    * (u' = u − (u·x)x, renormalized) and re-run the SAME sign-LSH
    * bucketed near-dup join at the SAME threshold, reporting how the
    * duplicate-pair verdict set moves — the query a deployment runs to
    * decide whether its cosine dedup was flagging shared-boilerplate
    * direction rather than content. Pairs present only BEFORE are
    * common-direction inflation; pairs only AFTER were masked by it.
    *
    * Scale shape: the projection is a row-local zip_with (identical
    * IEEE op order on both engines — no rounding needed before the
    * bucket), and both pair relations are the bounded sign-bucket join
    * ([[nearDupLsh]]'s shape); the before side is the session-shared
    * pair index, not a rebuild.
    */
  def abttPairs(spark: SparkSession, dir: String, threshold: Double = 0.4,
                bits: Int = 4, iters: Int = 3): DataFrame = {
    val xl = typedlit(powerIterTop(spark, dir, iters))
    // checkpoint BARRIER before the projection: prepared's nrm > 0 filter
    // must not be reordered across the projection's divisions — Catalyst
    // collapses the nrm2 > 0 filter into the scan predicate and is free
    // to evaluate its zip_with division on a zero-norm row first, which
    // under ANSI semantics is an error, not an Infinity (found by the
    // degenerate-corpus probe: a zero vector in embeddings)
    val base = Materialize(prepared(spark, dir))
    // materialize the projected relation: the pair join consumes it as
    // BOTH sides, and unmaterialized the whole projection subtree (dot +
    // zip_with per row) would execute twice (measured 5.3 s → ~2.6 s)
    val proj = Materialize(base
      .withColumn("dp", dot(col("v"), xl) / col("nrm"))
      .withColumn("v2", zip_with(col("v"), xl,
        (a, b) => a / col("nrm") - col("dp") * b))
      .withColumn("nrm2", sqrt(dot(col("v2"), col("v2"))))
      .filter(col("nrm2") > 0)
      .select(col("vec_id"), col("v2").as("v"), col("nrm2").as("nrm")))
    val after = lshPairsOn(proj, threshold, bits)
      .select(col("id_a"), col("id_b")).withColumn("ina", lit(1))
    val before = nearDupLsh(spark, dir, threshold, bits)
      .select(col("id_a"), col("id_b")).withColumn("inb", lit(1))
    before.join(after, Seq("id_a", "id_b"), "full_outer")
      .agg(
        coalesce(sum(when(col("inb").isNotNull, 1L).otherwise(0L)), lit(0L))
          .as("pairs_before"),
        coalesce(sum(when(col("ina").isNotNull, 1L).otherwise(0L)), lit(0L))
          .as("pairs_after"),
        coalesce(sum(when(col("inb").isNotNull && col("ina").isNotNull, 1L)
          .otherwise(0L)), lit(0L)).as("common"),
        coalesce(sum(when(col("ina").isNull, 1L).otherwise(0L)), lit(0L))
          .as("only_before"),
        coalesce(sum(when(col("inb").isNull, 1L).otherwise(0L)), lit(0L))
          .as("only_after"))
  }

  def abttPairsSql(threshold: Double = 0.4, bits: Int = 4,
                   iters: Int = 3): String = {
    val bkt2 = (0 until bits).map(i =>
      s"CASE WHEN v2[${i + 1}] >= 0 THEN '1' ELSE '0' END").mkString(" || ")
    s"""WITH e0 AS ($preparedSql),
       |${powerIterCtes(iters)},
       |proj AS (
       |  SELECT vec_id, v2, sqrt(list_dot_product(v2, v2)) AS nrm2 FROM (
       |    SELECT vec_id,
       |      list_transform(range(1, len(v) + 1),
       |        i -> v[i] / nrm - (list_dot_product(v, xl) / nrm) * xl[i]) AS v2
       |    FROM e0, xl$iters)
       |  WHERE list_dot_product(v2, v2) > 0),
       |pa AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, 1 AS ina
       |  FROM (SELECT *, $bkt2 AS bkt FROM proj) a
       |  JOIN (SELECT *, $bkt2 AS bkt FROM proj) b
       |    ON a.bkt = b.bkt AND a.vec_id < b.vec_id
       |  WHERE list_dot_product(a.v2, b.v2) / (a.nrm2 * b.nrm2) >= $threshold),
       |pb AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, 1 AS inb
       |  FROM (SELECT *, ${bucketSql(bits)} AS bkt FROM e0) a
       |  JOIN (SELECT *, ${bucketSql(bits)} AS bkt FROM e0) b
       |    ON a.bkt = b.bkt AND a.vec_id < b.vec_id
       |  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= $threshold)
       |SELECT
       |  CAST(COALESCE(sum(CASE WHEN inb IS NOT NULL THEN 1 ELSE 0 END), 0)
       |    AS BIGINT) AS pairs_before,
       |  CAST(COALESCE(sum(CASE WHEN ina IS NOT NULL THEN 1 ELSE 0 END), 0)
       |    AS BIGINT) AS pairs_after,
       |  CAST(COALESCE(sum(CASE WHEN inb IS NOT NULL AND ina IS NOT NULL
       |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS common,
       |  CAST(COALESCE(sum(CASE WHEN ina IS NULL THEN 1 ELSE 0 END), 0)
       |    AS BIGINT) AS only_before,
       |  CAST(COALESCE(sum(CASE WHEN inb IS NULL THEN 1 ELSE 0 END), 0)
       |    AS BIGINT) AS only_after
       |FROM pb FULL OUTER JOIN pa USING (id_a, id_b)""".stripMargin
  }

  /** Incremental semantic dedup — the embedding twin of the image tier's
    * [[graft.multimodal.Multimodal.imageDedupIncr]] and the daily-arrival
    * form of [[graft.functions.MixOps.semanticDedup]]: classify each DELTA
    * vector (salted [[Exprs.arrivalSplit]] split, the unbiased-arrival contract)
    * against the FROZEN base and against smaller-id delta vectors, using
    * the same sign-LSH buckets as [[nearDupLsh]] — `dup_of_base` (a base
    * vector in the same bucket has cosine ≥ threshold), `dup_in_increment`
    * (a smaller-id delta vector does), else `kept`, with the minimum-id
    * representative for lineage.
    *
    * Scale shape: two bucket equi-joins (delta×base, delta×delta) — never
    * all-pairs; base side is touched once per increment and the base×base
    * pair relation is never recomputed (it was settled when those vectors
    * were admitted — the property that makes the daily job O(delta), not
    * O(corpus²)).
    */
  def semDedupIncr(spark: SparkSession, dir: String, deltaMod: Int = 5,
                   threshold: Double = 0.4, bits: Int = 4): DataFrame = {
    val e = prepared(spark, dir).withColumn("bkt", bucketExpr(col("v"), bits))
    val base = e.filter(Exprs.arrivalSplit(col("vec_id"), deltaMod) =!= 0)
      .select(col("bkt"), col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    val delta = e.filter(Exprs.arrivalSplit(col("vec_id"), deltaMod) === 0)
      .select(col("bkt"), col("vec_id").as("id"), col("v"), col("nrm"))
    val ofBase = delta.join(base, Seq("bkt"))
      .filter(dot(col("v"), col("vb")) / (col("nrm") * col("nb")) >= threshold)
      .groupBy("id").agg(min("id_b").as("dup_of_b"))
    val dd = delta.select(col("bkt"), col("id").as("id_d"), col("v").as("vd"), col("nrm").as("nd"))
    val inDelta = delta.join(dd, Seq("bkt")).filter(col("id_d") < col("id"))
      .filter(dot(col("v"), col("vd")) / (col("nrm") * col("nd")) >= threshold)
      .groupBy("id").agg(min("id_d").as("dup_in_d"))
    delta
      .join(ofBase, Seq("id"), "left")
      .join(inDelta, Seq("id"), "left")
      .select(col("id").as("vec_id"), col("bkt"),
        (col("dup_of_b").isNull && col("dup_in_d").isNull).as("keep"),
        when(col("dup_of_b").isNotNull, "dup_of_base")
          .when(col("dup_in_d").isNotNull, "dup_in_increment")
          .otherwise("kept").as("drop_reason"),
        coalesce(col("dup_of_b"), col("dup_in_d")).as("dup_of"))
      .orderBy("vec_id")
  }

  def semDedupIncrSql(deltaMod: Int = 5, threshold: Double = 0.4, bits: Int = 4): String =
    s"""WITH e AS (SELECT *, ${bucketSql(bits)} AS bkt FROM ($preparedSql)),
       |tag AS (SELECT vec_id, v, nrm, bkt, ${Exprs.arrivalSplitSql("vec_id", deltaMod)} = 0 AS is_delta FROM e),
       |base AS (SELECT * FROM tag WHERE NOT is_delta),
       |delta AS (SELECT * FROM tag WHERE is_delta),
       |ofbase AS (
       |  SELECT d.vec_id, min(b.vec_id) AS dup_of_b
       |  FROM delta d JOIN base b ON d.bkt = b.bkt
       |    AND list_dot_product(d.v, b.v) / (d.nrm * b.nrm) >= $threshold
       |  GROUP BY d.vec_id),
       |indelta AS (
       |  SELECT d.vec_id, min(e2.vec_id) AS dup_in_d
       |  FROM delta d JOIN delta e2 ON d.bkt = e2.bkt AND e2.vec_id < d.vec_id
       |    AND list_dot_product(d.v, e2.v) / (d.nrm * e2.nrm) >= $threshold
       |  GROUP BY d.vec_id)
       |SELECT d.vec_id, d.bkt,
       |  (ob.dup_of_b IS NULL AND ind.dup_in_d IS NULL) AS keep,
       |  CASE WHEN ob.dup_of_b IS NOT NULL THEN 'dup_of_base'
       |       WHEN ind.dup_in_d IS NOT NULL THEN 'dup_in_increment'
       |       ELSE 'kept' END AS drop_reason,
       |  COALESCE(ob.dup_of_b, ind.dup_in_d) AS dup_of
       |FROM delta d
       |LEFT JOIN ofbase ob ON d.vec_id = ob.vec_id
       |LEFT JOIN indelta ind ON d.vec_id = ind.vec_id
       |ORDER BY d.vec_id""".stripMargin

  /** Recompaction audit — the settling of the debt every incremental
    * contract in this file defers ("re-opening base pairs is the
    * recompaction's job"): compare the verdicts the INCREMENTAL era
    * produced (base vectors settled against base only, delta vectors via
    * [[semDedupIncr]]) with a FULL min-id recompute over base + delta, and
    * report the reconciliation matrix. The interesting cells are the
    * documented staleness classes, now measured instead of just promised:
    *
    *   demoted  (incr keep → full drop): a base keeper whose true min-id
    *            dup partner arrived in the delta (salted ids interleave,
    *            so delta ids CAN undercut base ids), or a delta keeper
    *            undercut across buckets of the increment
    *   promoted (incr drop → full keep): a delta vector the incremental
    *            tier dropped against a LARGER-id base partner that the
    *            global min-id rule resolves the other way
    *
    * Output is the (side, incr_keep, full_keep) count matrix with the
    * class name spelled out — the compaction job's before/after report, a
    * few rows however large the corpus. Scale shape: three same-bucket
    * smaller-id self-joins (full, base-era, plus [[semDedupIncr]]'s two) —
    * all LSH-bucket-bounded, never all-pairs; the matrix agg is
    * map-side-combined on a 8-value key.
    */
  def compactAudit(spark: SparkSession, dir: String, deltaMod: Int = 5,
                   threshold: Double = 0.4, bits: Int = 4): DataFrame = {
    val e = prepared(spark, dir).withColumn("bkt", bucketExpr(col("v"), bits))
      .select(col("vec_id"), col("v"), col("nrm"), col("bkt"),
        (Exprs.arrivalSplit(col("vec_id"), deltaMod) === 0).as("is_delta"))
    def dupsOf(probe: DataFrame, pool: DataFrame): DataFrame =
      probe.join(pool
          .select(col("bkt"), col("vec_id").as("id_p"), col("v").as("vp"),
            col("nrm").as("np")), Seq("bkt"))
        .filter(col("id_p") < col("vec_id") &&
          dot(col("v"), col("vp")) / (col("nrm") * col("np")) >= threshold)
        .select(col("vec_id")).distinct().withColumn("is_dup", lit(true))
    val fullDups = dupsOf(e, e)
    val base = e.filter(!col("is_delta"))
    val baseDups = dupsOf(base, base)
    val deltaKeep = semDedupIncr(spark, dir, deltaMod, threshold, bits)
      .select(col("vec_id"), col("keep").as("incr_keep_d"))
    e.select(col("vec_id"), col("is_delta"))
      .join(fullDups, Seq("vec_id"), "left")
      .join(baseDups.withColumnRenamed("is_dup", "base_dup"), Seq("vec_id"), "left")
      .join(deltaKeep, Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("is_delta"), "delta").otherwise("base").as("side"),
        when(col("is_delta"), col("incr_keep_d"))
          .otherwise(col("base_dup").isNull).as("incr_keep"),
        col("is_dup").isNull.as("full_keep"))
      .groupBy(col("side"), col("incr_keep"), col("full_keep"))
      .agg(count(lit(1)).as("n"))
      .withColumn("class",
        when(col("incr_keep") && col("full_keep"), "stable_keep")
          .when(!col("incr_keep") && !col("full_keep"), "stable_drop")
          .when(col("incr_keep") && !col("full_keep"), "demoted")
          .otherwise("promoted"))
      .select(col("side"), col("class"), col("incr_keep"), col("full_keep"), col("n"))
      .orderBy(col("side"), col("class"))
  }

  def compactAuditSql(deltaMod: Int = 5, threshold: Double = 0.4,
                      bits: Int = 4): String =
    s"""WITH e AS (
       |  SELECT vec_id, v, nrm, ${bucketSql(bits)} AS bkt,
       |    ${Exprs.arrivalSplitSql("vec_id", deltaMod)} = 0 AS is_delta
       |  FROM ($preparedSql)),
       |full_dups AS (
       |  SELECT DISTINCT a.vec_id FROM e a JOIN e p ON a.bkt = p.bkt
       |    AND p.vec_id < a.vec_id
       |    AND list_dot_product(a.v, p.v) / (a.nrm * p.nrm) >= $threshold),
       |base_dups AS (
       |  SELECT DISTINCT a.vec_id FROM e a JOIN e p ON a.bkt = p.bkt
       |    AND p.vec_id < a.vec_id
       |    AND list_dot_product(a.v, p.v) / (a.nrm * p.nrm) >= $threshold
       |  WHERE NOT a.is_delta AND NOT p.is_delta),
       |incr_d AS (SELECT vec_id, keep FROM (${semDedupIncrSql(deltaMod, threshold, bits)})),
       |verdicts AS (
       |  SELECT e.vec_id,
       |    CASE WHEN e.is_delta THEN 'delta' ELSE 'base' END AS side,
       |    CASE WHEN e.is_delta THEN incr_d.keep
       |         ELSE bd.vec_id IS NULL END AS incr_keep,
       |    fd.vec_id IS NULL AS full_keep
       |  FROM e
       |  LEFT JOIN full_dups fd ON e.vec_id = fd.vec_id
       |  LEFT JOIN base_dups bd ON e.vec_id = bd.vec_id
       |  LEFT JOIN incr_d ON e.vec_id = incr_d.vec_id)
       |SELECT side,
       |  CASE WHEN incr_keep AND full_keep THEN 'stable_keep'
       |       WHEN NOT incr_keep AND NOT full_keep THEN 'stable_drop'
       |       WHEN incr_keep AND NOT full_keep THEN 'demoted'
       |       ELSE 'promoted' END AS class,
       |  incr_keep, full_keep, count(*) AS n
       |FROM verdicts
       |GROUP BY side, incr_keep, full_keep
       |ORDER BY side, class""".stripMargin

  /** Cross-modal embedding-staleness monitor — the consistency check a
    * pipeline that stores text AND embeddings needs: documents whose text
    * is signature-identical to another's (all 8 minhashes equal — the
    * [[graft.functions.TextOps.minhashSignatures]] relation, so "same
    * text" means what the dedup tier means) should have near-identical
    * embeddings; a member whose cosine to its group REPRESENTATIVE (min
    * id) falls below `threshold` has a stale, corrupt, or mis-keyed
    * vector. Reported per source as counts + integer permille (the
    * monitor-family parity rule — no order-dependent double sums).
    *
    * The representative formulation is the scale design: comparing each
    * member to ONE representative is linear in documents, where the pair
    * formulation (every text-near pair × two 64-dim arrays) measured 36k
    * array-pair rows at sf0.01 and grows with the square of family sizes.
    * One sig-group agg, two id equi-joins each carrying a single
    * embedding, one |sources|-key agg.
    */
  def embedStale(spark: SparkSession, dir: String,
                 threshold: Double = 0.4): DataFrame = {
    val sig = graft.functions.TextOps.minhashSignatures(spark, dir)
      .withColumn("sig", concat_ws(",", (0 until 8).map(i => col(s"m$i")): _*))
      .select("doc_id", "sig")
    val reps = sig.groupBy("sig")
      .agg(min("doc_id").as("rep_id"), count(lit(1)).as("n_members"))
      .filter(col("n_members") > 1)
    val e = prepared(spark, dir)
    val member = sig.join(reps, "sig").filter(col("doc_id") =!= col("rep_id"))
      .join(e.select(col("vec_id").as("doc_id"), col("v"), col("nrm")), "doc_id")
      .join(e.select(col("vec_id").as("rep_id"),
        col("v").as("rv"), col("nrm").as("rn")), "rep_id")
      .withColumn("stale",
        dot(col("v"), col("rv")) / (col("nrm") * col("rn")) < threshold)
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    member.join(src, "doc_id")
      .groupBy("source").agg(
        count(lit(1)).as("n_members"),
        sum(col("stale").cast("long")).as("n_stale"))
      .withColumn("stale_pm", expr("n_stale * 1000L div n_members"))
      .orderBy("source")
  }

  def embedStaleSql(threshold: Double = 0.4): String =
    s"""WITH sig AS (
       |  ${graft.functions.TextOps.minhashSigSqlInner}),
       |keyed AS (
       |  SELECT doc_id,
       |    m0||','||m1||','||m2||','||m3||','||m4||','||m5||','||m6||','||m7 AS sig
       |  FROM sig),
       |reps AS (
       |  SELECT sig, min(doc_id) AS rep_id, count(*) AS n_members
       |  FROM keyed GROUP BY sig HAVING count(*) > 1),
       |e AS ($preparedSql),
       |member AS (
       |  SELECT k.doc_id,
       |    list_dot_product(ev.v, er.v) / (ev.nrm * er.nrm) < $threshold AS stale
       |  FROM keyed k JOIN reps r ON k.sig = r.sig AND k.doc_id <> r.rep_id
       |  JOIN e ev ON ev.vec_id = k.doc_id
       |  JOIN e er ON er.vec_id = r.rep_id)
       |SELECT d.source,
       |  CAST(count(*) AS BIGINT) AS n_members,
       |  CAST(sum(CASE WHEN stale THEN 1 ELSE 0 END) AS BIGINT) AS n_stale,
       |  CAST(sum(CASE WHEN stale THEN 1 ELSE 0 END) AS BIGINT) * 1000
       |    // CAST(count(*) AS BIGINT) AS stale_pm
       |FROM member m JOIN documents d ON d.doc_id = m.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** Embedding-refresh repair — the ACTION [[embedStale]]'s verdict feeds:
    * a stale vector is not just inconsistent, it POLLUTES the corpus —
    * its document is text-identical to its family representative yet the
    * corrupt embedding evades semantic dedup, so the duplicate ships in
    * the training set. The repair a deployment runs is to serve the
    * representative's embedding for flagged members (re-embedding queues
    * behind a model call; serving the rep's vector is the immediate fix —
    * the texts are signature-identical, so the rep's vector IS the
    * correct value up to embedder noise). This operator executes the
    * repair and AUDITS its effect rather than asserting it: the
    * [[nearDupLsh]] drop verdicts are computed twice — once on the
    * original relation (session-shared, zero marginal cost) and once on
    * the refreshed relation — and the report prices, per source, how many
    * stale members evaded semantic dedup before vs after (the
    * `d_bm25_compact` double-pass pattern applied to the vector tier).
    *
    * Scale shape: the member/stale relation is [[embedStale]]'s linear
    * rep-join machinery; the refreshed relation is one left join applying
    * |stale| patches; the second LSH pass is the same bucketed self-join
    * as the first (never all-pairs). Everything else is a |sources|-key
    * agg.
    */
  def embedRefresh(spark: SparkSession, dir: String, threshold: Double = 0.4,
                   bits: Int = 4): DataFrame = {
    val sig = graft.functions.TextOps.minhashSignatures(spark, dir)
      .withColumn("sig", concat_ws(",", (0 until 8).map(i => col(s"m$i")): _*))
      .select("doc_id", "sig")
    val reps = sig.groupBy("sig")
      .agg(min("doc_id").as("rep_id"), count(lit(1)).as("n_grp"))
      .filter(col("n_grp") > 1)
    val e = prepared(spark, dir)
    val member = sig.join(reps, "sig").filter(col("doc_id") =!= col("rep_id"))
      .join(e.select(col("vec_id").as("doc_id"), col("v"), col("nrm")), "doc_id")
      .join(e.select(col("vec_id").as("rep_id"),
        col("v").as("rv"), col("nrm").as("rn")), "rep_id")
      .withColumn("stale",
        dot(col("v"), col("rv")) / (col("nrm") * col("rn")) < threshold)
    val patches = member.filter(col("stale"))
      .select(col("doc_id").as("vec_id"), col("rv"), col("rn"))
    val refreshed = e.join(patches, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("rv"), col("v")).as("v"),
        coalesce(col("rn"), col("nrm")).as("nrm"))
    val droppedBefore = nearDupLsh(spark, dir, threshold, bits)
      .select(col("id_b").as("doc_id")).distinct()
      .withColumn("dropped_before", lit(true))
    val droppedAfter = lshPairsOn(refreshed, threshold, bits)
      .select(col("id_b").as("doc_id")).distinct()
      .withColumn("dropped_after", lit(true))
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    member.join(src, "doc_id")
      .join(droppedBefore, Seq("doc_id"), "left")
      .join(droppedAfter, Seq("doc_id"), "left")
      .groupBy("source").agg(
        count(lit(1)).as("n_members"),
        sum(col("stale").cast("long")).as("n_stale"),
        sum((col("stale") && col("dropped_before").isNull).cast("long"))
          .as("evaded_before"),
        sum((col("stale") && col("dropped_after").isNull).cast("long"))
          .as("evaded_after"))
      .withColumn("recovered", col("evaded_before") - col("evaded_after"))
      .withColumn("recovered_pm", when(col("evaded_before") > 0,
        expr("recovered * 1000L div evaded_before")).otherwise(-1L))
      .orderBy("source")
  }

  def embedRefreshSql(threshold: Double = 0.4, bits: Int = 4): String =
    s"""WITH sig AS (
       |  ${graft.functions.TextOps.minhashSigSqlInner}),
       |keyed AS (
       |  SELECT doc_id,
       |    m0||','||m1||','||m2||','||m3||','||m4||','||m5||','||m6||','||m7 AS sig
       |  FROM sig),
       |reps AS (
       |  SELECT sig, min(doc_id) AS rep_id, count(*) AS n_grp
       |  FROM keyed GROUP BY sig HAVING count(*) > 1),
       |e AS ($preparedSql),
       |member AS (
       |  SELECT k.doc_id,
       |    list_dot_product(ev.v, er.v) / (ev.nrm * er.nrm) < $threshold AS stale,
       |    er.v AS rv, er.nrm AS rn
       |  FROM keyed k JOIN reps r ON k.sig = r.sig AND k.doc_id <> r.rep_id
       |  JOIN e ev ON ev.vec_id = k.doc_id
       |  JOIN e er ON er.vec_id = r.rep_id),
       |refreshed AS (
       |  SELECT e.vec_id,
       |    COALESCE(m.rv, e.v) AS v, COALESCE(m.rn, e.nrm) AS nrm
       |  FROM e LEFT JOIN (SELECT doc_id, rv, rn FROM member WHERE stale) m
       |    ON e.vec_id = m.doc_id),
       |eb AS (SELECT *, ${bucketSql(bits)} AS bkt FROM e),
       |ea AS (SELECT *, ${bucketSql(bits)} AS bkt FROM refreshed),
       |drop_b AS (
       |  SELECT DISTINCT b.vec_id AS doc_id
       |  FROM eb a JOIN eb b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
       |  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= $threshold),
       |drop_a AS (
       |  SELECT DISTINCT b.vec_id AS doc_id
       |  FROM ea a JOIN ea b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
       |  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= $threshold)
       |SELECT d.source,
       |  CAST(count(*) AS BIGINT) AS n_members,
       |  CAST(sum(CASE WHEN stale THEN 1 ELSE 0 END) AS BIGINT) AS n_stale,
       |  CAST(sum(CASE WHEN stale AND db.doc_id IS NULL THEN 1 ELSE 0 END)
       |       AS BIGINT) AS evaded_before,
       |  CAST(sum(CASE WHEN stale AND da.doc_id IS NULL THEN 1 ELSE 0 END)
       |       AS BIGINT) AS evaded_after,
       |  CAST(sum(CASE WHEN stale AND db.doc_id IS NULL THEN 1 ELSE 0 END)
       |     - sum(CASE WHEN stale AND da.doc_id IS NULL THEN 1 ELSE 0 END)
       |       AS BIGINT) AS recovered,
       |  CAST(CASE WHEN sum(CASE WHEN stale AND db.doc_id IS NULL THEN 1 ELSE 0 END) > 0
       |       THEN (sum(CASE WHEN stale AND db.doc_id IS NULL THEN 1 ELSE 0 END)
       |           - sum(CASE WHEN stale AND da.doc_id IS NULL THEN 1 ELSE 0 END)) * 1000
       |          // sum(CASE WHEN stale AND db.doc_id IS NULL THEN 1 ELSE 0 END)
       |       ELSE -1 END AS BIGINT) AS recovered_pm
       |FROM member m JOIN documents d ON d.doc_id = m.doc_id
       |LEFT JOIN drop_b db ON db.doc_id = m.doc_id
       |LEFT JOIN drop_a da ON da.doc_id = m.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** Per-source incremental duplication-rate monitor — the third member of
    * the arrival-monitor family ([[embeddingDrift]] watches WHERE the
    * delta's embeddings sit, [[graft.functions.TextOps]]'s `d_novelty`
    * watches its n-grams; this watches how much of it is ALREADY OWNED):
    * aggregate [[semDedupIncr]]'s verdicts by the document's source —
    * n_delta / n_dup_base / n_dup_incr and the permille dup rate (integer
    * math, the cross-engine parity rule). A source whose arrivals suddenly
    * duplicate the base is a scraper loop or a re-crawl; one duplicating
    * itself is a feed stutter — both caught before admission.
    *
    * Scale shape: the classification is [[semDedupIncr]] (delta-bound,
    * bucketed); this adds one |sources|-key hash agg and a broadcast-size
    * join to documents for the source column.
    */
  def dupRateIncr(spark: SparkSession, dir: String, deltaMod: Int = 5,
                  threshold: Double = 0.4, bits: Int = 4): DataFrame = {
    val verdicts = semDedupIncr(spark, dir, deltaMod, threshold, bits)
    val src = Tables.documents(spark, dir)
      .select(col("doc_id").as("vec_id"), col("source"))
    // left join: a delta vector with no matching document must surface in an
    // explicit bucket, not silently vanish from n_delta (the doc_id=vec_id
    // 1:1 contract holds on testdata but is a table property, not a law)
    verdicts.join(src, Seq("vec_id"), "left")
      .withColumn("source", coalesce(col("source"), lit("__unmatched__")))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_delta"),
        sum(when(col("drop_reason") === "dup_of_base", 1L).otherwise(0L)).as("n_dup_base"),
        sum(when(col("drop_reason") === "dup_in_increment", 1L).otherwise(0L)).as("n_dup_incr"))
      .withColumn("dup_permille",
        expr("((n_dup_base + n_dup_incr) * 1000) DIV n_delta"))
      .orderBy("source")
  }

  def dupRateIncrSql(deltaMod: Int = 5, threshold: Double = 0.4, bits: Int = 4): String =
    s"""WITH verdicts AS (${semDedupIncrSql(deltaMod, threshold, bits)})
       |SELECT COALESCE(d.source, '__unmatched__') AS source,
       |  COUNT(*) AS n_delta,
       |  CAST(sum(CASE WHEN v.drop_reason = 'dup_of_base' THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_base,
       |  CAST(sum(CASE WHEN v.drop_reason = 'dup_in_increment' THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_incr,
       |  CAST(((sum(CASE WHEN v.drop_reason <> 'kept' THEN 1 ELSE 0 END)) * 1000) // COUNT(*) AS BIGINT) AS dup_permille
       |FROM verdicts v LEFT JOIN documents d ON v.vec_id = d.doc_id
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** Corpus-wide k-nearest-neighbor GRAPH — every vector's top-`kNn`
    * cosine neighbors among the vectors sharing its IVF cell, plus a
    * `mutual` flag (dst also lists src in its own top-k). The kNN graph is
    * the backbone relation of graph-based curation: SemDeDup-style cluster
    * pruning, diversity sampling, and label propagation all consume it.
    *
    * Scale shape: NOT the brute-force [[knn]] (that broadcasts a fixed
    * query set; here every vector is a query, so all-pairs would be n²).
    * One shuffle on `centroid_id` co-locates each IVF cell; the per-cell
    * self-join is bounded by cell size (at 100 TB: raise `kCentroids` so
    * cells stay ~constant — n/k² work per cell times k cells). The edge
    * relation (n×kNn rows) is materialized once and the mutual flag is a
    * self equi-join on it — never a second candidate generation.
    */
  /** The materialized n×k edge relation underlying [[knnGraph]] —
    * session-shared ([[graft.SharedRel]]): both the graph query and its
    * consumers ([[semClusters]]) need it, it is deterministic, and a
    * production pipeline maintains this relation next to the IVF index
    * rather than re-scoring candidates per consumer.
    */
  private def sharedKnnEdges(spark: SparkSession, dir: String, kNn: Int,
                             kCentroids: Int): DataFrame =
    graft.SharedRel(spark, s"knng|$dir|$kNn|$kCentroids") {
      val assigned = sharedIvfAssign(spark, dir, kCentroids)
      val e = prepared(spark, dir).join(assigned, "vec_id")
      val a = e.select(col("centroid_id"), col("vec_id").as("src"),
        col("v").as("va"), col("nrm").as("na"))
      val b = e.select(col("centroid_id"), col("vec_id").as("dst"),
        col("v").as("vb"), col("nrm").as("nb"))
      val sims = a.join(b, Seq("centroid_id")).filter(col("src") =!= col("dst"))
        .withColumn("cos_sim",
          round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 4))
      Exprs.keepTop(sims, Seq(col("src")), Seq(col("cos_sim").desc, col("dst")), kNn, "rank")
        .select(col("src"), col("dst"), col("rank"), col("cos_sim"))
    }

  def knnGraph(spark: SparkSession, dir: String, kNn: Int = 5,
               kCentroids: Int = 16): DataFrame = {
    val edges = sharedKnnEdges(spark, dir, kNn, kCentroids)
    val back = edges.select(col("src").as("b_dst"), col("dst").as("b_src"))
    edges.join(back,
        col("src") === col("b_src") && col("dst") === col("b_dst"), "left")
      .select(col("src"), col("dst"), col("rank"), col("cos_sim"),
        col("b_src").isNotNull.as("mutual"))
      .orderBy(col("src"), col("rank"))
  }

  def knnGraphSql(kNn: Int = 5, kCentroids: Int = 16): String =
    s"""WITH e0 AS ($preparedSql),
       |c AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn FROM e0 WHERE vec_id < $kCentroids),
       |assign AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT e0.vec_id, c.centroid_id, ROW_NUMBER() OVER (
       |      PARTITION BY e0.vec_id
       |      ORDER BY list_dot_product(e0.v, c.cv) / (e0.nrm * c.cn) DESC, c.centroid_id) AS rn
       |    FROM e0, c)
       |  WHERE rn = 1),
       |e AS (SELECT e0.*, assign.centroid_id FROM e0 JOIN assign USING (vec_id)),
       |sims AS (
       |  SELECT a.vec_id AS src, b.vec_id AS dst,
       |    round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos_sim
       |  FROM e a JOIN e b ON a.centroid_id = b.centroid_id AND a.vec_id <> b.vec_id),
       |edges AS (
       |  SELECT src, dst, CAST(rank AS INT) AS rank, cos_sim FROM (
       |    SELECT *, ROW_NUMBER() OVER (
       |      PARTITION BY src ORDER BY cos_sim DESC, dst) AS rank
       |    FROM sims)
       |  WHERE rank <= $kNn)
       |SELECT f.src, f.dst, f.rank, f.cos_sim, (r.src IS NOT NULL) AS mutual
       |FROM edges f LEFT JOIN edges r ON f.src = r.dst AND f.dst = r.src
       |ORDER BY f.src, f.rank""".stripMargin

  /** Incremental kNN-graph maintenance — the daily-arrival form of
    * [[knnGraph]], completing the graph-based-curation story's lifecycle:
    * DELTA vectors (salted [[Exprs.arrivalSplit]] split) get their top-`kNn` edges
    * against everything in their frozen-centroid cell (base AND the rest
    * of the delta batch); base vectors' existing edge lists stay FROZEN
    * until the next full rebuild — the asymmetric-staleness contract every
    * production ANN-graph deployment runs (new nodes link in daily, the
    * reverse edges and mutuality settle at recompaction, which is why this
    * relation carries `dst_is_base` instead of [[knnGraph]]'s `mutual`).
    *
    * Scale shape: cell assignment is the [[ivfIncr]] centroid-literal fold
    * (zero shuffle, zero join — k×dim driver state); the only shuffle
    * co-locates cells for the delta×cell join, whose left side is
    * 1/`mod` of arrivals and whose fan-out is cell-bounded, never n².
    * Base×base pairs are never re-scored.
    */
  def knnGraphIncr(spark: SparkSession, dir: String, kNn: Int = 5,
                   kCentroids: Int = 16, mod: Int = 5): DataFrame = {
    val e = prepared(spark, dir)
    val cents = frozenCentroids(e, kCentroids, mod)
    val centLit = typedLit(cents)
    val centroidId = argmaxFold(centLit, c =>
      dot(col("v"), c.getField("_2")) / (col("nrm") * c.getField("_3")))
    val all = e.withColumn("centroid_id", centroidId)
      .withColumn("is_base", Exprs.arrivalSplit(col("vec_id"), mod) =!= 0)
    val srcs = all.filter(!col("is_base")).select(col("centroid_id"),
      col("vec_id").as("src"), col("v").as("va"), col("nrm").as("na"))
    val dsts = all.select(col("centroid_id"), col("vec_id").as("dst"),
      col("v").as("vb"), col("nrm").as("nb"), col("is_base").as("dst_is_base"))
    val sims = srcs.join(dsts, Seq("centroid_id")).filter(col("src") =!= col("dst"))
      .withColumn("cos_sim",
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 4))
    Exprs.keepTop(sims, Seq(col("src")), Seq(col("cos_sim").desc, col("dst")), kNn, "rank")
      .select(col("src"), col("dst"), col("rank"), col("cos_sim"), col("dst_is_base"))
      .orderBy(col("src"), col("rank"))
  }

  def knnGraphIncrSql(kNn: Int = 5, kCentroids: Int = 16, mod: Int = 5): String =
    s"""WITH e0 AS ($preparedSql),
       |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM e0
       |      WHERE ${Exprs.arrivalSplitSql("vec_id", mod)} <> 0 ORDER BY vec_id LIMIT $kCentroids),
       |assign AS (
       |  SELECT vec_id, cid AS centroid_id FROM (
       |    SELECT e0.vec_id, c.cid, ROW_NUMBER() OVER (
       |      PARTITION BY e0.vec_id
       |      ORDER BY list_dot_product(e0.v, c.cv) / (e0.nrm * c.cn) DESC, c.cid) AS rn
       |    FROM e0, c) WHERE rn = 1),
       |alls AS (
       |  SELECT e0.*, assign.centroid_id, (${Exprs.arrivalSplitSql("vec_id", mod)}) <> 0 AS is_base
       |  FROM e0 JOIN assign USING (vec_id)),
       |sims AS (
       |  SELECT s.vec_id AS src, d.vec_id AS dst,
       |    round(list_dot_product(s.v, d.v) / (s.nrm * d.nrm), 4) AS cos_sim,
       |    d.is_base AS dst_is_base
       |  FROM alls s JOIN alls d
       |    ON s.centroid_id = d.centroid_id AND s.vec_id <> d.vec_id
       |  WHERE NOT s.is_base)
       |SELECT src, dst, rank, cos_sim, dst_is_base FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (
       |    PARTITION BY src ORDER BY cos_sim DESC, dst) AS INT) AS rank
       |  FROM sims)
       |WHERE rank <= $kNn
       |ORDER BY src, rank""".stripMargin

  /** Semantic clusters — connected components over the MUTUAL kNN edges
    * with cosine ≥ `threshold`: the SemDeDup-style grouping relation
    * ("these documents say the same thing") that [[knnGraph]] exists to
    * feed. Mutuality + threshold prune the asymmetric hub edges a plain
    * kNN graph is full of, so components track genuine semantic groups
    * rather than chaining through popular vectors.
    *
    * Same min-label propagation loop as the text tier's
    * [[graft.functions.TextOps.dupClusters]] (per round: one edge⋈label
    * shuffle, convergence count via Observation, loud failure at the round
    * cap), but over the DIRECT edge list — the mutual edge relation is
    * n×k-bounded, already symmetric (a mutual pair appears in both
    * directions), and materialized once. Oracle = recursive-CTE transitive
    * closure, a genuinely different algorithm.
    */
  /** Session-shared like the edge relation it consumes: both the cluster
    * report and [[semClustersApply]] need the converged labels, and
    * re-propagating per consumer is pure waste.
    */
  def semClusters(spark: SparkSession, dir: String, threshold: Double = 0.4,
                  kNn: Int = 5, kCentroids: Int = 16): DataFrame =
    graft.SharedRel(spark, s"semcc|$dir|$threshold|$kNn|$kCentroids") {
      val edges = Materialize(knnGraph(spark, dir, kNn, kCentroids)
        .filter(col("mutual") && col("cos_sim") >= threshold)
        .select(col("src"), col("dst")))
      val nodes = prepared(spark, dir).select(col("vec_id"))
      propagateMinLabels(nodes, edges)
        .withColumn("cluster_size", count(lit(1)).over(
          Window.partitionBy(col("label"))))
        .select(col("vec_id"), col("label").as("cluster_rep"), col("cluster_size"))
        .orderBy("vec_id")
    }

  /** The min-label propagation core of [[semClusters]], factored out so its
    * convergence edge (round count = component diameter, hard `maxRounds`
    * cap with a loud require instead of silently-partial labels) is
    * directly drivable with adversarial fixtures — a path graph of
    * diameter d needs exactly d+1 rounds (d label-moving + 1 quiescent).
    * `edges` must already be symmetric (mutual pairs in both directions),
    * as [[knnGraph]]'s mutual relation is.
    */
  private[graft] def propagateMinLabels(nodes: DataFrame, edges: DataFrame,
                                        maxRounds: Int = 40): DataFrame = {
    var labels = Materialize(nodes.select(col("vec_id"))
      .withColumn("label", col("vec_id")))
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      val nbrMin = edges
        .join(labels.select(col("vec_id").as("dst"), col("label").as("dlabel")), "dst")
        .groupBy(col("src")).agg(min(col("dlabel")).as("nbr_min"))
      val stepped = labels
        .join(nbrMin.withColumnRenamed("src", "vec_id"), Seq("vec_id"), "left")
        .select(col("vec_id"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"),
          (coalesce(col("nbr_min"), col("label")) < col("label")).cast("long").as("chg"))
      val obs = org.apache.spark.sql.Observation()
      val next = Materialize(stepped.observe(obs, sum(col("chg")).as("changed")))
      changed = obs.get("changed").asInstanceOf[Long]
      labels = next.drop("chg")
      rounds += 1
    }
    require(changed == 0,
      s"semClusters did not converge within $rounds rounds ($changed labels still moving)")
    labels
  }

  /** Large-star/small-star connected components (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond") — the ESCALATION path
    * PLANS documents for when semantic-cluster chain diameters exceed
    * [[propagateMinLabels]]'s round cap: min-label propagation needs
    * diameter-many rounds (a 10k-hop chain is 10k shuffles), while the
    * alternating star operations contract chains exponentially —
    * O(log² n) rounds worst case, O(log n) in practice, each round two
    * keyed aggregations over the EDGE set (never the node set squared).
    *
    *   large-star(u): connect every neighbor v > u to min(Γ(u) ∪ {u})
    *   small-star(u): connect every neighbor v < u, and u itself, to
    *                  min(Γ<(u))
    *
    * Both emit strictly-canonical (a < b) edges, so the fixpoint is a star
    * forest with every component's min id at the center — labels read off
    * directly. Convergence is detected by edge-set stability (two
    * `except` probes per round, each bounded by the edge relation) and
    * guarded by the same loud `require` contract as min-label: a
    * non-converged run must never ship partial labels.
    */
  private[graft] def propagateLsLs(nodes: DataFrame, edges0: DataFrame,
                                   maxRounds: Int = 25): DataFrame = {
    // canonicalize: undirected, no self-loops, deduped, a < b
    var e = Materialize(edges0.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct())
    def largeStar(cur: DataFrame): DataFrame = {
      val adj = cur.select(col("a").as("u"), col("b").as("v"))
        .unionAll(cur.select(col("b").as("u"), col("a").as("v")))
      val mins = adj.groupBy(col("u")).agg(min(col("v")).as("mn"))
      adj.join(mins, "u").filter(col("v") > col("u"))
        .select(least(col("mn"), col("u")).as("a"), col("v").as("b"))
        .distinct()
    }
    def smallStar(cur: DataFrame): DataFrame = {
      val mins = cur.groupBy(col("b").as("u")).agg(min(col("a")).as("m"))
      val nbrs = cur.join(mins, col("b") === col("u"))
        .filter(col("a") =!= col("m"))
        .select(col("m").as("a"), col("a").as("b"))
      nbrs.unionAll(mins.select(col("m").as("a"), col("u").as("b"))).distinct()
    }
    var rounds = 0
    var stable = e.isEmpty
    while (!stable && rounds < maxRounds) {
      val next = Materialize(smallStar(largeStar(e)))
      stable = next.exceptAll(e).isEmpty && e.exceptAll(next).isEmpty
      e = next
      rounds += 1
    }
    require(stable,
      s"propagateLsLs did not converge within $rounds rounds")
    nodes.select(col("vec_id"))
      .join(e.select(col("b").as("vec_id"), col("a").as("label")),
        Seq("vec_id"), "left")
      .groupBy(col("vec_id"))
      .agg(min(col("label")).as("ml"))
      .select(col("vec_id"), coalesce(col("ml"), col("vec_id")).as("label"))
  }

  /** [[semClusters]] over [[propagateLsLs]] — identical clustering (both
    * compute exact connected components of the same mutual-kNN edge
    * relation; the recursive-SQL oracle is algorithm-agnostic, so the two
    * operators share it), different convergence envelope: min-label is
    * diameter-bounded, this is log-bounded. The production default stays
    * min-label (semantic near-dup components are short chains; fewer
    * shuffles per round); this is the documented escalation, now
    * implemented and differentially graded rather than just described.
    */
  def semClustersLsLs(spark: SparkSession, dir: String, threshold: Double = 0.4,
                      kNn: Int = 5, kCentroids: Int = 16): DataFrame = {
    val edges = Materialize(knnGraph(spark, dir, kNn, kCentroids)
      .filter(col("mutual") && col("cos_sim") >= threshold)
      .select(col("src"), col("dst")))
    val nodes = prepared(spark, dir).select(col("vec_id"))
    propagateLsLs(nodes, edges)
      .withColumn("cluster_size", count(lit(1)).over(
        Window.partitionBy(col("label"))))
      .select(col("vec_id"), col("label").as("cluster_rep"), col("cluster_size"))
      .orderBy("vec_id")
  }

  /** Per-cluster decision relation for SemDeDup-style cluster pruning —
    * the step between [[semClusters]] (who is grouped) and
    * [[semClustersApply]] (keep the min-id rep): a real pipeline prunes
    * per CLUSTER, not per member, and needs the cluster-level evidence in
    * one row — size, representative, token mass, low-quality share (the
    * doc_id = vec_id contract joins the text tier's quality relation) —
    * plus the verdict: `oversized` (size > `maxSize`, the
    * template/boilerplate family signature SemDeDup drops wholesale),
    * `low_quality` (strict majority of members in the low bucket), else
    * `keep`. Singletons are their own healthy clusters.
    *
    * Scale shape: one join of the cluster relation to the per-doc quality
    * and token columns (doc-keyed), one map-side-combined group on the
    * cluster rep — nothing new shuffles beyond the semClusters build.
    */
  def clusterStats(spark: SparkSession, dir: String, maxSize: Long = 25,
                   threshold: Double = 0.4, kNn: Int = 5,
                   kCentroids: Int = 16): DataFrame = {
    val clusters = semClusters(spark, dir, threshold, kNn, kCentroids)
      .select(col("vec_id").as("doc_id"), col("cluster_rep"))
    val docs = TextOps.quality(spark, dir)
      .select(col("doc_id"), (col("quality_bucket") === "low").as("is_low"),
        col("n_words"))
    clusters.join(docs, "doc_id")
      .groupBy(col("cluster_rep"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("n_words")).as("sum_words"),
        sum(col("is_low").cast("long")).as("n_low"))
      .withColumn("verdict",
        when(col("n_members") > maxSize, "oversized")
          .when(col("n_low") * 2 > col("n_members"), "low_quality")
          .otherwise("keep"))
      .select(col("cluster_rep"), col("n_members"), col("sum_words"),
        col("n_low"), col("verdict"))
      .orderBy(col("cluster_rep"))
  }

  def clusterStatsSql(maxSize: Long = 25, threshold: Double = 0.4,
                      kNn: Int = 5, kCentroids: Int = 16): String =
    s"""WITH clusters AS (
       |  SELECT vec_id AS doc_id, cluster_rep
       |  FROM (${semClustersSql(threshold, kNn, kCentroids)})),
       |q AS (
       |  SELECT doc_id, quality_bucket = 'low' AS is_low, n_words
       |  FROM (${TextOps.qualitySql})),
       |agg AS (
       |  SELECT cluster_rep, count(*) AS n_members,
       |    CAST(sum(n_words) AS BIGINT) AS sum_words,
       |    CAST(sum(CASE WHEN is_low THEN 1 ELSE 0 END) AS BIGINT) AS n_low
       |  FROM clusters JOIN q USING (doc_id) GROUP BY cluster_rep)
       |SELECT cluster_rep, n_members, sum_words, n_low,
       |  CASE WHEN n_members > $maxSize THEN 'oversized'
       |       WHEN n_low * 2 > n_members THEN 'low_quality'
       |       ELSE 'keep' END AS verdict
       |FROM agg ORDER BY cluster_rep""".stripMargin

  /** PageRank-style centrality over the mutual-kNN graph — the
    * representativeness signal graph-based curation uses (central members
    * describe their semantic neighborhood; peripheral ones are outliers or
    * bridges): `iters` power-iteration rounds with damping `d`/100, in
    * EXACT integer arithmetic so both engines agree bit-for-bit with no
    * quantization step at all — scores are integers (init 10⁶), each
    * round is `new = (100−d)·10⁴ + (d · Σ score_j div deg_j) div 100`
    * (integer division throughout, deterministic on any engine). Isolated
    * nodes hold the teleport floor. Unnormalized (no 1/N): ranking and
    * ratios are what curation consumes, and the integer floor keeps the
    * fixed point exact.
    *
    * Scale shape per round: one (src-keyed) contribution agg over the
    * EDGE relation + one left join back to nodes — the min-label
    * propagation cost model with a constant round count instead of a
    * diameter-bound. Edge relation is the session-shared kNN graph.
    */
  def graphRank(spark: SparkSession, dir: String, threshold: Double = 0.4,
                kNn: Int = 5, kCentroids: Int = 16, iters: Int = 3,
                damp: Int = 85): DataFrame = {
    val edges = Materialize(knnGraph(spark, dir, kNn, kCentroids)
      .filter(col("mutual") && col("cos_sim") >= threshold)
      .select(col("src"), col("dst")))
    val nodes = prepared(spark, dir).select(col("vec_id"))
    graphRankCore(nodes, edges, iters, damp).orderBy(col("vec_id"))
  }

  /** The power-iteration core of [[graphRank]], factored out so crafted
    * graph fixtures drive it directly. `edges` must be symmetric.
    */
  private[graft] def graphRankCore(nodes: DataFrame, edges: DataFrame,
                                   iters: Int, damp: Int): DataFrame = {
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    var scores = nodes.withColumn("score", lit(1000000L))
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(scores.select(col("vec_id").as("src"), col("score")), "src")
        .join(deg, "src")
        .select(col("dst"), expr("score div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in_c"))
      scores = Materialize(nodes
        .join(contrib.withColumnRenamed("dst", "vec_id"), Seq("vec_id"), "left")
        .select(col("vec_id"),
          (lit((100L - damp) * 10000L) +
            expr(s"($damp * coalesce(in_c, 0L)) div 100")).as("score")))
    }
    scores
  }

  def graphRankSql(threshold: Double = 0.4, kNn: Int = 5, kCentroids: Int = 16,
                   iters: Int = 3, damp: Int = 85): String = {
    val rounds = (1 to iters).map { i =>
      val prev = if (i == 1) "s0" else s"s${i - 1}"
      s"""c$i AS (
         |  SELECT e.dst, sum($prev.score // deg.deg) AS in_c
         |  FROM edges e JOIN $prev ON e.src = $prev.vec_id
         |       JOIN deg ON e.src = deg.src
         |  GROUP BY e.dst),
         |s$i AS (
         |  SELECT n.vec_id,
         |    ${(100L - damp) * 10000L} + ($damp * coalesce(c$i.in_c, 0)) // 100 AS score
         |  FROM nodes n LEFT JOIN c$i ON n.vec_id = c$i.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT src, dst FROM (${knnGraphSql(kNn, kCentroids)})
       |  WHERE mutual AND cos_sim >= $threshold),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |nodes AS (SELECT vec_id FROM ($preparedSql)),
       |s0 AS (SELECT vec_id, 1000000 AS score FROM nodes),
       |$rounds
       |SELECT vec_id, CAST(score AS BIGINT) AS score FROM s$iters
       |ORDER BY vec_id""".stripMargin
  }

  def semClustersSql(threshold: Double = 0.4, kNn: Int = 5, kCentroids: Int = 16): String =
    s"""WITH RECURSIVE edges AS (
       |  SELECT src, dst FROM (${knnGraphSql(kNn, kCentroids)})
       |  WHERE mutual AND cos_sim >= $threshold),
       |nodes AS (SELECT vec_id FROM ($preparedSql)),
       |reach(v, r) AS (
       |  SELECT vec_id, vec_id FROM nodes
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.v),
       |rep AS (SELECT v, min(r) AS cluster_rep FROM reach GROUP BY v)
       |SELECT v AS vec_id, cluster_rep,
       |  count(*) OVER (PARTITION BY cluster_rep) AS cluster_size
       |FROM rep ORDER BY vec_id""".stripMargin

  /** The SemDeDup APPLY step — what a curation pipeline actually ships
    * from the semantic clusters: every vector tagged keep/drop, keeping
    * exactly the min-id representative per semantic group (singletons keep
    * themselves). Pure composition of [[semClusters]] with a column
    * compare — the embedding-tier mirror of [[TextOps.dedupApply]]; the
    * decision relation stays 3 columns wide however wide the payload is.
    */
  def semClustersApply(spark: SparkSession, dir: String, threshold: Double = 0.4,
                       kNn: Int = 5, kCentroids: Int = 16): DataFrame =
    semClusters(spark, dir, threshold, kNn, kCentroids)
      .select(col("vec_id"), col("cluster_rep"),
        (col("vec_id") === col("cluster_rep")).as("keep"))

  def semClustersApplySql(threshold: Double = 0.4, kNn: Int = 5,
                          kCentroids: Int = 16): String = {
    // the cluster oracle minus its cluster_size tail, re-projected — the
    // dedupApplySql tail-rewrite pattern, require-guarded against drift
    val inner = semClustersSql(threshold, kNn, kCentroids)
      .replace("SELECT v AS vec_id, cluster_rep,\n  count(*) OVER (PARTITION BY cluster_rep) AS cluster_size\nFROM rep ORDER BY vec_id",
        "SELECT v AS vec_id, cluster_rep, v = cluster_rep AS keep\nFROM rep ORDER BY vec_id")
    require(inner != semClustersSql(threshold, kNn, kCentroids),
      "semClustersApplySql: tail rewrite did not apply")
    inner
  }

  /** Per-source embedding-centroid drift between the frozen base and the
    * incremental delta (same salted-hash split as `MixOps.manifestIncr`) —
    * the distribution-shift monitor a daily pipeline runs NEXT TO the
    * incremental build: a source whose delta centroid swings away from its
    * base centroid (large L2 shift, low centroid cosine) is flagged before
    * its documents enter the corpus. Scale shape: posexplode →
    * map-side-combined avg on (source, dim) — key count is |sources|×dim,
    * never corpus-bound; the centroid join is broadcast-size.
    */
  def embeddingDrift(spark: SparkSession, dir: String, deltaMod: Int = 10): DataFrame = {
    val src = Tables.documents(spark, dir)
      .select(col("doc_id").as("vec_id"), col("source"))
    val tagged = prepared(spark, dir).join(src, "vec_id")
      .withColumn("is_delta",
        Exprs.arrivalSplit(col("vec_id"), deltaMod) === 0)
    val cent = tagged
      .select(col("source"), col("is_delta"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("source", "is_delta", "dim").agg(avg("x").as("c"))
    val b = cent.filter(!col("is_delta"))
      .select(col("source"), col("dim"), col("c").as("cb"))
    val d = cent.filter(col("is_delta"))
      .select(col("source"), col("dim"), col("c").as("cd"))
    b.join(d, Seq("source", "dim"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_dims"),
        round(sqrt(sum(pow(col("cb") - col("cd"), lit(2)))), 4).as("l2_shift"),
        round(sum(col("cb") * col("cd")) /
          (sqrt(sum(col("cb") * col("cb"))) * sqrt(sum(col("cd") * col("cd")))), 4)
          .as("cos_centroids"))
      .orderBy("source")
  }

  def embeddingDriftSql(deltaMod: Int = 10): String =
    s"""WITH e AS ($preparedSql),
       |tagged AS (
       |  SELECT d.source, e.vec_id, e.v,
       |    ${Exprs.arrivalSplitSql("e.vec_id", deltaMod)} = 0 AS is_delta
       |  FROM e JOIN (SELECT doc_id AS vec_id, source FROM documents) d USING (vec_id)),
       |dims AS (
       |  SELECT source, is_delta, t.i - 1 AS dim, v[t.i] AS x
       |  FROM tagged, unnest(range(1, len(v) + 1)) AS t(i)),
       |cent AS (
       |  SELECT source, is_delta, dim, avg(x) AS c FROM dims GROUP BY 1, 2, 3),
       |j AS (
       |  SELECT b.source, b.dim, b.c AS cb, dd.c AS cd
       |  FROM (SELECT * FROM cent WHERE NOT is_delta) b
       |  JOIN (SELECT * FROM cent WHERE is_delta) dd USING (source, dim))
       |SELECT source, CAST(count(*) AS BIGINT) AS n_dims,
       |  round(sqrt(sum((cb - cd) * (cb - cd))), 4) AS l2_shift,
       |  round(sum(cb * cd) / (sqrt(sum(cb * cb)) * sqrt(sum(cd * cd))), 4)
       |    AS cos_centroids
       |FROM j GROUP BY source ORDER BY source""".stripMargin

  /** Per-domain corpus mix — the report tying the vector tier to the
    * corpus-mix tier: each document's embedding lands in its IVF coarse
    * domain (the session-shared [[ivfAssign]] relation) and the documents'
    * whitespace-token mass aggregates per domain — the "how much does each
    * semantic domain contribute, in docs and tokens" table a
    * mixture-planning job consumes before setting [[graft.functions.MixOps]]
    * rates. Scale shape: one equi-join of two corpus relations on
    * vec_id = doc_id (the assignment side is 2 narrow columns however wide
    * the vectors are), a map-side-combinable k-row agg, and the share
    * window runs over k rows — nothing downstream of the join exceeds k.
    */
  def domainMix(spark: SparkSession, dir: String, k: Int = 16): DataFrame = {
    val assigned = sharedIvfAssign(spark, dir, k)
    val toks = TextOps.prepared(spark, dir)
      .select(col("doc_id").as("vec_id"), size(col("words")).as("ws_tokens"))
    assigned.join(toks, "vec_id")
      .groupBy(col("centroid_id").as("domain"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ws_tokens")).as("n_tokens"))
      .withColumn("token_share",
        round(col("n_tokens") / sum(col("n_tokens")).over(Window.partitionBy()), 6))
      .orderBy("domain")
  }

  def domainMixSql(k: Int = 16): String =
    s"""WITH e AS ($preparedSql),
       |c AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn FROM e WHERE vec_id < $k),
       |assign AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT e.vec_id, c.centroid_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_dot_product(e.v, c.cv) / (e.nrm * c.cn) DESC,
       |                 c.centroid_id) AS rn
       |    FROM e, c)
       |  WHERE rn = 1),
       |t AS (SELECT doc_id AS vec_id, len(words) AS ws_tokens
       |      FROM (${TextOps.preparedSql})),
       |agg AS (
       |  SELECT centroid_id AS domain, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(ws_tokens) AS BIGINT) AS n_tokens
       |  FROM assign JOIN t USING (vec_id) GROUP BY 1)
       |SELECT domain, n_docs, n_tokens,
       |  round(CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE), 6)
       |    AS token_share
       |FROM agg ORDER BY domain""".stripMargin

  /** IVF coarse quantizer: the first `k` vectors (by id) act as the fixed
    * centroid set — deterministic, so assignment is oracle-checkable (a
    * trained k-means would converge data-dependently; the operator shape —
    * broadcast centroids, argmax-similarity assignment — is identical).
    */
  def ivfAssign(spark: SparkSession, dir: String, k: Int = 16): DataFrame = {
    val all = prepared(spark, dir)
    val cents = broadcast(all.filter(col("vec_id") < k)
      .select(col("vec_id").as("centroid_id"), col("v").as("cv"), col("nrm").as("cn")))
    val sims = all.join(cents)
      .withColumn("c_sim", dot(col("v"), col("cv")) / (col("nrm") * col("cn")))
    Dedup.keepFirst(sims, Seq(col("vec_id")), Seq(col("c_sim").desc, col("centroid_id")))
      .select(col("vec_id"), col("centroid_id"), round(col("c_sim"), 4).as("c_sim"))
  }

  /** IVF index-health monitor — the |cells| rows an index operator reads
    * before deciding which inverted lists to split at the next rebuild:
    * per-cell membership count, share of the corpus in permille, the
    * in-cell assignment-similarity floor (a LOW min cosine means the cell
    * is a catch-all whose members barely belong — the split candidate
    * signature), and the hot flag (cell > 2× the mean size, where the mean
    * denominator is `k` — ALL centroids, including empty cells, so the
    * flag is stable as cells drain). All-integer except the quantized
    * floor; rides the session-shared assignment.
    */
  def ivfStats(spark: SparkSession, dir: String, k: Int = 16): DataFrame = {
    val assign = sharedIvfAssignSim(spark, dir, k)
    val tot = assign.agg(count(lit(1)).as("n"))
    assign.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("c_sim")).as("min_sim"))
      .crossJoin(broadcast(tot))
      .withColumn("share_pm", expr("n_vecs * 1000L div n"))
      .withColumn("hot", col("n_vecs") * k > lit(2L) * col("n"))
      .select(col("centroid_id"), col("n_vecs"), col("share_pm"),
        col("min_sim"), col("hot"))
      .orderBy(col("centroid_id"))
  }

  /** The (vec_id, centroid_id, c_sim) assignment WITH the quantized
    * similarity — shared so [[ivfStats]] does not re-run the argmax the
    * plain id-only [[sharedIvfAssign]] already paid for.
    */
  private def sharedIvfAssignSim(spark: SparkSession, dir: String, k: Int): DataFrame =
    graft.SharedRel(spark, s"ivfsim|$dir|$k")(ivfAssign(spark, dir, k))

  def ivfStatsSql(k: Int = 16): String =
    s"""WITH a AS (${ivfAssignSql(k)}),
       |n AS (SELECT count(*) AS n FROM a)
       |SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(count(*) * 1000 // n.n AS BIGINT) AS share_pm,
       |  min(c_sim) AS min_sim,
       |  count(*) * $k > 2 * n.n AS hot
       |FROM a, n GROUP BY centroid_id, n.n ORDER BY centroid_id""".stripMargin

  def ivfAssignSql(k: Int = 16): String =
    s"""WITH e AS ($preparedSql),
       |c AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn FROM e WHERE vec_id < $k),
       |sims AS (
       |  SELECT e.vec_id, c.centroid_id,
       |    list_dot_product(e.v, c.cv) / (e.nrm * c.cn) AS c_sim
       |  FROM e, c)
       |SELECT vec_id, centroid_id, round(c_sim, 4) AS c_sim FROM (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY vec_id ORDER BY c_sim DESC, centroid_id) AS rn
       |  FROM sims)
       |WHERE rn = 1 ORDER BY vec_id""".stripMargin

  /** Hot-cell split — the ACTION that closes the [[ivfStats]] monitor loop
    * (the index-rebuild decision a serving deployment makes when a cell's
    * inverted list grows into a scan): cells flagged `hot` by the monitor's
    * 2×-mean rule PLUS the `topM` largest (so the operator is exercisable
    * on balanced fixtures too — the policy a deployment tunes) are each
    * split in two by one quantized Lloyd step over their members only:
    * seed with the cell's two smallest vec_ids, assign members to the
    * nearer seed, recompute the two sub-centroids as quantized spherical
    * means ([[kmeansTrainRounded]]'s update), then rebuild the two
    * inverted lists against the recomputed means. Child cells get ids
    * `k + 2·parent + sub` — disjoint from the unsplit 0..k-1 id space.
    *
    * The shared sub-relations (members, seed assignment, recomputed
    * sub-centroids, rebuilt lists) also feed [[annRecallIvfSplit]].
    */
  private case class IvfSplitRels(e0: DataFrame, tot: DataFrame,
                                  sz: DataFrame, tgt: DataFrame,
                                  ccn: DataFrame, reassign: DataFrame)

  private def ivfSplitRels(spark: SparkSession, dir: String, k: Int,
                           topM: Int): IvfSplitRels = {
    val e0 = prepared(spark, dir)
    val assign = sharedIvfAssign(spark, dir, k)
    val tot = assign.agg(count(lit(1)).as("n"))
    val sz = assign.groupBy(col("centroid_id")).agg(count(lit(1)).as("n_vecs"))
    // k rows: the single-partition rank window is over the CELL relation,
    // never the corpus
    val rw = Window.orderBy(col("n_vecs").desc, col("centroid_id"))
    val tgt = sz.crossJoin(broadcast(tot))
      .withColumn("rn", row_number().over(rw))
      .filter((col("rn") <= topM || col("n_vecs") * k > lit(2L) * col("n")) &&
        col("n_vecs") >= 2)
      .select(col("centroid_id").as("parent"))
    val mem = e0.join(assign, "vec_id")
      .withColumnRenamed("centroid_id", "parent")
      .join(broadcast(tgt), "parent")
      .select(col("parent"), col("vec_id"), col("v"), col("nrm"))
    val seeds = Exprs.keepTop(mem, Seq(col("parent")), Seq(col("vec_id")), 2, "rn")
      .select(col("parent"), (col("rn") - 1).cast("long").as("sub"),
        col("v").as("sv"), col("nrm").as("sn"))
    def argmaxSub(cents: DataFrame, cv: String, cn: String): DataFrame =
      Dedup.keepFirst(mem.join(broadcast(cents), "parent"), Seq(col("vec_id")),
          Seq((dot(col("v"), col(cv)) / (col("nrm") * col(cn))).desc, col("sub")))
        .select(col("vec_id"), col("parent"), col("sub"))
    val suba = argmaxSub(seeds, "sv", "sn")
    // quantized spherical means of the seed assignment = the two new
    // sub-centroids; built distributed (sorted per-dim collect_list), the
    // +0.0 normalizes IEEE -0.0 so both engines hold identical vectors
    val ccn = mem.join(suba.select(col("vec_id"), col("sub")), "vec_id")
      .select(col("parent"), col("sub"), posexplode(col("v")).as(Seq("dim", "x")),
        col("nrm"))
      .groupBy(col("parent"), col("sub"), col("dim"))
      .agg((round(avg(col("x") / col("nrm")), 4) + lit(0.0)).as("m"))
      .groupBy(col("parent"), col("sub"))
      .agg(sort_array(collect_list(struct(col("dim"), col("m")))).as("ms"))
      .select(col("parent"), col("sub"),
        transform(col("ms"), s => s.getField("m")).as("cv"))
      .withColumn("cn", sqrt(dot(col("cv"), col("cv"))))
    val reassign = argmaxSub(ccn, "cv", "cn")
    IvfSplitRels(e0, tot, sz, tgt, ccn, reassign)
  }

  /** The post-split per-cell report: unsplit cells unchanged, each split
    * cell replaced by its two children (list size + corpus share), with
    * the before/after max-share skew carried on every row — the
    * rebalance evidence the split decision is judged by. Cell-local by
    * design: only the flagged lists are rebuilt (the cheap local rebuild),
    * never the full index ([[annRecallIvfSplit]] prices the full-corpus
    * reassignment the next full rebuild would apply).
    */
  def ivfSplit(spark: SparkSession, dir: String, k: Int = 16, topM: Int = 2): DataFrame = {
    val r = ivfSplitRels(spark, dir, k, topM)
    val unsplit = r.sz.join(broadcast(r.tgt),
        r.sz("centroid_id") === r.tgt("parent"), "left_anti")
      .select(col("centroid_id").as("cell_id"),
        col("centroid_id").as("parent_id"),
        lit(false).as("is_child"), col("n_vecs"))
    val children = r.reassign.groupBy(col("parent"), col("sub"))
      .agg(count(lit(1)).as("n_vecs"))
      .select((lit(k.toLong) + lit(2L) * col("parent") + col("sub")).as("cell_id"),
        col("parent").as("parent_id"), lit(true).as("is_child"), col("n_vecs"))
    val after = unsplit.unionByName(children)
    val beforeMax = r.sz.crossJoin(broadcast(r.tot))
      .agg(max(expr("n_vecs * 1000L div n")).as("before_max_pm"))
    val afterMax = after.crossJoin(broadcast(r.tot))
      .agg(max(expr("n_vecs * 1000L div n")).as("after_max_pm"))
    after.crossJoin(broadcast(r.tot))
      .crossJoin(broadcast(beforeMax)).crossJoin(broadcast(afterMax))
      .select(col("cell_id"), col("parent_id"), col("is_child"), col("n_vecs"),
        expr("n_vecs * 1000L div n").as("share_pm"),
        col("before_max_pm"), col("after_max_pm"))
      .orderBy(col("cell_id"))
  }

  /** The shared split CTE chain (expects `e0` bound upstream): assignment,
    * cell sizes, split targets (hot ∪ top-m), seed Lloyd step, recomputed
    * sub-centroids `ccn`, rebuilt lists `reassign` — the DuckDB mirror of
    * [[ivfSplitRels]].
    */
  private def ivfSplitCtes(k: Int, topM: Int): String =
    s"""c AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn FROM e0 WHERE vec_id < $k),
       |a AS (SELECT vec_id, centroid_id FROM (
       |  SELECT e0.vec_id, c.centroid_id, ROW_NUMBER() OVER (
       |    PARTITION BY e0.vec_id
       |    ORDER BY list_dot_product(e0.v, c.cv) / (e0.nrm * c.cn) DESC, c.centroid_id) AS rn
       |  FROM e0, c) WHERE rn = 1),
       |n AS (SELECT count(*) AS n FROM a),
       |sz AS (SELECT centroid_id, count(*) AS n_vecs FROM a GROUP BY centroid_id),
       |tgt AS (SELECT centroid_id AS parent FROM (
       |  SELECT sz.centroid_id, sz.n_vecs, n.n,
       |    ROW_NUMBER() OVER (ORDER BY sz.n_vecs DESC, sz.centroid_id) AS rn
       |  FROM sz, n)
       |  WHERE (rn <= $topM OR n_vecs * $k > 2 * n) AND n_vecs >= 2),
       |mem AS (SELECT a.centroid_id AS parent, e0.vec_id, e0.v, e0.nrm
       |  FROM e0 JOIN a USING (vec_id)
       |  WHERE a.centroid_id IN (SELECT parent FROM tgt)),
       |seeds AS (SELECT parent, CAST(rn - 1 AS BIGINT) AS sub, v AS sv, nrm AS sn FROM (
       |  SELECT parent, v, nrm, ROW_NUMBER() OVER (PARTITION BY parent ORDER BY vec_id) AS rn
       |  FROM mem) WHERE rn <= 2),
       |suba AS (SELECT vec_id, parent, sub FROM (
       |  SELECT m.vec_id, m.parent, s.sub, ROW_NUMBER() OVER (
       |    PARTITION BY m.vec_id
       |    ORDER BY list_dot_product(m.v, s.sv) / (m.nrm * s.sn) DESC, s.sub) AS rn
       |  FROM mem m JOIN seeds s ON m.parent = s.parent) WHERE rn = 1),
       |subm AS (SELECT m.parent, suba.sub, i AS dim,
       |    round(avg(m.v[i] / m.nrm), 4) + CAST(0.0 AS DOUBLE) AS mx
       |  FROM mem m JOIN suba ON m.vec_id = suba.vec_id,
       |       unnest(range(1, len(m.v) + 1)) AS t(i)
       |  GROUP BY m.parent, suba.sub, i),
       |cc AS (SELECT parent, sub, list(mx ORDER BY dim) AS cv FROM subm GROUP BY parent, sub),
       |ccn AS (SELECT parent, sub, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM cc),
       |reassign AS (SELECT vec_id, parent, sub FROM (
       |  SELECT m.vec_id, m.parent, cc.sub, ROW_NUMBER() OVER (
       |    PARTITION BY m.vec_id
       |    ORDER BY list_dot_product(m.v, cc.cv) / (m.nrm * cc.cn) DESC, cc.sub) AS rn
       |  FROM mem m JOIN ccn cc ON m.parent = cc.parent) WHERE rn = 1)""".stripMargin

  def ivfSplitSql(k: Int = 16, topM: Int = 2): String =
    s"""WITH e0 AS ($preparedSql),
       |${ivfSplitCtes(k, topM)},
       |after AS (
       |  SELECT sz.centroid_id AS cell_id, sz.centroid_id AS parent_id,
       |    FALSE AS is_child, sz.n_vecs
       |  FROM sz WHERE sz.centroid_id NOT IN (SELECT parent FROM tgt)
       |  UNION ALL
       |  SELECT $k + 2 * parent + sub, parent, TRUE, count(*)
       |  FROM reassign GROUP BY parent, sub),
       |summ AS (
       |  SELECT (SELECT max(n_vecs * 1000 // n.n) FROM sz, n) AS before_max_pm,
       |         (SELECT max(n_vecs * 1000 // n.n) FROM after, n) AS after_max_pm)
       |SELECT CAST(cell_id AS BIGINT) AS cell_id,
       |  CAST(parent_id AS BIGINT) AS parent_id, is_child,
       |  CAST(n_vecs AS BIGINT) AS n_vecs,
       |  CAST(n_vecs * 1000 // n.n AS BIGINT) AS share_pm,
       |  CAST(before_max_pm AS BIGINT) AS before_max_pm,
       |  CAST(after_max_pm AS BIGINT) AS after_max_pm
       |FROM after, n, summ ORDER BY cell_id""".stripMargin

  /** Recall attribution for the split at EQUAL probe budget — what the
    * hot-cell split buys (or costs) the quantizer: the seed-centroid
    * harness ([[annIvfMulti]]) against the same search over the POST-SPLIT
    * centroid set (unsplit originals + recomputed sub-centroids, full
    * corpus reassigned through the identical [[annIvfMultiWith]] plan),
    * joined per query. Fully differential like [[annRecallIvfTrained]]:
    * the quantized sub-centroid means keep the split side
    * oracle-expressible.
    */
  def annRecallIvfSplit(spark: SparkSession, dir: String, nQueries: Int = 20,
                        k: Int = 5, kCentroids: Int = 16, nProbe: Int = 2,
                        topM: Int = 2): DataFrame = {
    val seed = recall(spark, dir,
        annIvfMulti(spark, dir, nQueries, k, kCentroids, nProbe), nQueries, k)
      .select(col("q_id"), col("n_hits").as("n_hits_seed"),
        col("recall_at_k").as("recall_seed"))
    val r = ivfSplitRels(spark, dir, kCentroids, topM)
    val unsplitCents = r.e0.filter(col("vec_id") < kCentroids)
      .select(col("vec_id").as("centroid_id"), col("v").as("cv"), col("nrm").as("cn"))
      .join(broadcast(r.tgt), col("centroid_id") === col("parent"), "left_anti")
    val childCents = r.ccn.select(
      (lit(kCentroids.toLong) + lit(2L) * col("parent") + col("sub")).as("centroid_id"),
      col("cv"), col("cn"))
    val newCents = unsplitCents.unionByName(childCents)
    val sp = recall(spark, dir,
        annIvfMultiWith(r.e0, newCents, nQueries, k, nProbe), nQueries, k)
      .select(col("q_id"), col("n_hits").as("n_hits_split"),
        col("recall_at_k").as("recall_split"))
    seed.join(sp, "q_id").orderBy("q_id")
  }

  def annRecallIvfSplitSql(nQueries: Int = 20, k: Int = 5,
                           kCentroids: Int = 16, nProbe: Int = 2,
                           topM: Int = 2): String = {
    val splitSearch =
      s"""WITH e0 AS ($preparedSql),
         |${ivfSplitCtes(kCentroids, topM)},
         |newc AS (
         |  SELECT c.centroid_id, c.cv, c.cn FROM c
         |  WHERE c.centroid_id NOT IN (SELECT parent FROM tgt)
         |  UNION ALL
         |  SELECT $kCentroids + 2 * parent + sub, cv, cn FROM ccn),
         |nassign AS (SELECT vec_id, centroid_id FROM (
         |  SELECT e0.vec_id, nc.centroid_id, ROW_NUMBER() OVER (
         |    PARTITION BY e0.vec_id
         |    ORDER BY list_dot_product(e0.v, nc.cv) / (e0.nrm * nc.cn) DESC, nc.centroid_id) AS rn
         |  FROM e0, newc nc) WHERE rn = 1),
         |e AS (SELECT e0.*, nassign.centroid_id FROM e0 JOIN nassign USING (vec_id)),
         |q AS (
         |  SELECT centroid_id AS q_cent, vec_id AS q_id, v AS qv, nrm AS qn FROM (
         |    SELECT e0.vec_id, e0.v, e0.nrm, nc.centroid_id, ROW_NUMBER() OVER (
         |      PARTITION BY e0.vec_id
         |      ORDER BY list_dot_product(e0.v, nc.cv) / (e0.nrm * nc.cn) DESC, nc.centroid_id) AS rn
         |    FROM e0, newc nc WHERE e0.vec_id < $nQueries)
         |  WHERE rn <= $nProbe),
         |sims AS (
         |  SELECT q.q_id, e.vec_id,
         |    round(list_dot_product(q.qv, e.v) / (q.qn * e.nrm), 4) AS cos_sim
         |  FROM e JOIN q ON e.centroid_id = q.q_cent AND e.vec_id <> q.q_id)
         |SELECT q_id, rank, vec_id AS neighbor_id, cos_sim FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (
         |    PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS INT) AS rank
         |  FROM sims)
         |WHERE rank <= $k""".stripMargin
    s"""WITH seed AS (
       |  SELECT q_id, n_hits AS n_hits_seed, recall_at_k AS recall_seed FROM (
       |    ${recallSql(annIvfMultiSql(nQueries, k, kCentroids, nProbe), nQueries, k)})),
       |sp AS (
       |  SELECT q_id, n_hits AS n_hits_split, recall_at_k AS recall_split FROM (
       |    ${recallSql(splitSearch, nQueries, k)}))
       |SELECT q_id, n_hits_seed, recall_seed, n_hits_split, recall_split
       |FROM seed JOIN sp USING (q_id) ORDER BY q_id""".stripMargin
  }

  /** IVF single-probe ANN: each query searches only its own centroid's
    * inverted list. Cluster-scale shape: centroid broadcast, corpus
    * shuffled once on centroid_id, per-list top-k.
    */
  def annIvf(spark: SparkSession, dir: String, nQueries: Int = 20, kNn: Int = 5,
             kCentroids: Int = 16): DataFrame = {
    // materialize the assignment once: it feeds both the broadcast query
    // side and the probe side, and canonical-plan reuse doesn't cover that
    // split (same rationale as TextOps.bandedSignatures); shared across the
    // ANN family per session (deterministic, so reuse is value-neutral)
    val assigned = sharedIvfAssign(spark, dir, kCentroids)
    val e = prepared(spark, dir).join(assigned, "vec_id")
    val q = broadcast(e.filter(col("vec_id") < nQueries)
      .select(col("centroid_id").as("q_cent"), col("vec_id").as("q_id"),
        col("v").as("qv"), col("nrm").as("qn")))
    val sims = e.join(q, col("centroid_id") === col("q_cent") && col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim", round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4))
    topHits(sims, "cos_sim", kNn)
      .orderBy(col("q_id"), col("rank"))
  }

  def annIvfSql(nQueries: Int = 20, kNn: Int = 5, kCentroids: Int = 16): String =
    s"""WITH e0 AS ($preparedSql),
       |c AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn FROM e0 WHERE vec_id < $kCentroids),
       |assign AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT e0.vec_id, c.centroid_id, ROW_NUMBER() OVER (
       |      PARTITION BY e0.vec_id
       |      ORDER BY list_dot_product(e0.v, c.cv) / (e0.nrm * c.cn) DESC, c.centroid_id) AS rn
       |    FROM e0, c)
       |  WHERE rn = 1),
       |e AS (SELECT e0.*, assign.centroid_id FROM e0 JOIN assign USING (vec_id)),
       |q AS (SELECT centroid_id AS q_cent, vec_id AS q_id, v AS qv, nrm AS qn
       |      FROM e WHERE vec_id < $nQueries),
       |sims AS (
       |  SELECT q.q_id, e.vec_id,
       |    round(list_dot_product(q.qv, e.v) / (q.qn * e.nrm), 4) AS cos_sim
       |  FROM e JOIN q ON e.centroid_id = q.q_cent AND e.vec_id <> q.q_id)
       |SELECT q_id, rank, vec_id AS neighbor_id, cos_sim FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (
       |    PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS INT) AS rank
       |  FROM sims)
       |WHERE rank <= $kNn
       |ORDER BY q_id, rank""".stripMargin

  /** IVF multi-probe ANN: each query searches the union of its `nProbe`
    * nearest centroids' inverted lists — recovers most of the recall
    * single-probe loses at centroid boundaries (the standard IVF accuracy
    * knob) for ~nProbe× the probe cost. Corpus vectors still live in
    * exactly ONE list (argmax assignment), so the probe join emits no
    * duplicate candidates and stays bucketed — never all-pairs. Scale
    * shape unchanged from [[annIvf]]: centroids broadcast, corpus shuffled
    * once on centroid_id, per-query top-k.
    */
  /** Top-`nProbe` centroid ids per query vector — the probe-list builder
    * shared by [[annIvfMulti]] and [[annIvfPq]] so their IVF halves cannot
    * drift (same ranking, same centroid_id tie-break).
    */
  private def queryProbes(e: DataFrame, nQueries: Int, kCentroids: Int,
                          nProbe: Int, withLabel: Boolean = false): DataFrame = {
    val q0 = e.filter(col("vec_id") < nQueries)
    val cents = broadcast(e.filter(col("vec_id") < kCentroids)
      .select(col("vec_id").as("centroid_id"), col("v").as("cv"), col("nrm").as("cn")))
    val ranked = Exprs.keepTop(q0.join(cents), Seq(col("vec_id")), nearestCentroid, nProbe,
      "__rn")
    // q_label is opt-in (filtered tiers only) so the unfiltered searches'
    // probe subplan stays byte-identical and the scan keeps pruning label
    val base = Seq(col("centroid_id").as("q_cent"), col("vec_id").as("q_id"),
      col("v").as("qv"), col("nrm").as("qn"))
    ranked.select(
      (if (withLabel) base :+ col("label").as("q_label") else base): _*)
  }

  def annIvfMulti(spark: SparkSession, dir: String, nQueries: Int = 20, kNn: Int = 5,
                  kCentroids: Int = 16, nProbe: Int = 2): DataFrame =
    sharedAnnHits(spark, "ivfmulti", dir, s"$nQueries|$kNn|$kCentroids|$nProbe") {
      val assigned = sharedIvfAssign(spark, dir, kCentroids)
      val e = prepared(spark, dir).join(assigned, "vec_id")
      val qProbes = queryProbes(prepared(spark, dir), nQueries, kCentroids, nProbe)
      val sims = e.join(broadcast(qProbes),
          col("centroid_id") === col("q_cent") && col("vec_id") =!= col("q_id"))
        .withColumn("cos_sim", round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4))
      topHits(sims, "cos_sim", kNn)
    }
      .orderBy(col("q_id"), col("rank"))

  /** [[annIvfMulti]] generalized to an EXPLICIT centroid relation
    * (centroid_id, cv, cn) — the form a TRAINED quantizer plugs into. The
    * default path's "first k vectors" centroids are just one instance; the
    * plan is identical (centroids broadcast, one corpus assignment, probe
    * lists per query, per-query top-k).
    */
  def annIvfMultiWith(e: DataFrame, centroids: DataFrame, nQueries: Int,
                      kNn: Int, nProbe: Int): DataFrame = {
    require(Set("centroid_id", "cv", "cn").subsetOf(centroids.columns.toSet),
      s"centroid relation must have columns (centroid_id, cv, cn); " +
      s"got (${centroids.columns.mkString(", ")})")
    val cents = broadcast(centroids)
    val assigned = Dedup.keepFirst(e.join(cents), Seq(col("vec_id")), nearestCentroid)
      .select(col("vec_id"), col("centroid_id"))
    val qProbes = Exprs.keepTop(e.filter(col("vec_id") < nQueries).join(cents),
        Seq(col("vec_id")), nearestCentroid, nProbe, "__rn")
      .select(col("centroid_id").as("q_cent"), col("vec_id").as("q_id"),
        col("v").as("qv"), col("nrm").as("qn"))
    val sims = e.join(assigned, "vec_id")
      .join(broadcast(qProbes),
        col("centroid_id") === col("q_cent") && col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim", round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4))
    topHits(sims, "cos_sim", kNn)
      .orderBy(col("q_id"), col("rank"))
  }

  /** ORACLE-PORTABLE spherical k-means (Lloyd) training loop over the
    * corpus — the TRAIN side whose single step [[kmeansStep]]
    * oracle-checks — with every round's centroid coordinates ROUNDED to 4
    * decimals before the next assignment: the [[kmeansStep]] cross-engine
    * trick extended to the full loop. Rounding re-anchors both engines each
    * round: the only cross-engine float divergence (summation order inside
    * `avg`) is absorbed by `round(·, 4)`, and everything downstream of the
    * rounded coordinates (sequential dot products, `sqrt`, the argmax with
    * centroid_id ties) is bit-identical arithmetic over identical doubles,
    * so a TRAINED quantizer sits inside a differentially-checked query
    * instead of taking a rows-only pass. The update averages UNIT vectors
    * v/‖v‖, not raw members: the mean direction maximizes Σ cos(x, c) over
    * its members (the true spherical-k-means update).
    *
    * Centroid state is k×dim doubles held on the driver (the
    * [[graft.functions.Bpe.train]] contract: iterations bounded by the
    * parameter, per-round driver traffic bounded by k×dim, never the
    * corpus): one broadcast + one map-side-combined agg per round. Empty
    * clusters keep their previous centroid. Returns (centroid_id, cv, cn) —
    * the [[annIvfMultiWith]] input shape.
    */
  def kmeansTrainRounded(spark: SparkSession, dir: String, k: Int = 16,
                         iters: Int = 3): DataFrame = {
    import spark.implicits._
    val e = Materialize(prepared(spark, dir).select(col("vec_id"), col("v"), col("nrm")))
    // seed = raw first-k vectors (float32→double, exactly representable on
    // both engines — no rounding needed at round 0)
    var cents: Seq[(Int, Seq[Double])] = e.filter(col("vec_id") < k)
      .select(col("vec_id"), col("v")).as[(Long, Seq[Double])]
      .collect().sortBy(_._1).map { case (id, v) => id.toInt -> v }
    def centDf(c: Seq[(Int, Seq[Double])]): DataFrame =
      c.map { case (cid, cv) =>
        // left-to-right sum of squares == list_dot_product(cv, cv): the
        // same accumulation order DuckDB's sqrt(list_dot_product) uses
        (cid, cv, math.sqrt(cv.foldLeft(0.0)((s, x) => s + x * x)))
      }.toDF("centroid_id", "cv", "cn")
    for (_ <- 1 to iters) {
      val cDf = broadcast(centDf(cents))
      val means = Dedup.keepFirst(e.join(cDf), Seq(col("vec_id")), nearestCentroid)
        .select(col("centroid_id"), col("nrm"),
          posexplode(col("v")).as(Seq("dim", "x")))
        // spherical update over UNIT vectors, quantized for portability
        .groupBy(col("centroid_id"), col("dim"))
        .agg(round(avg(col("x") / col("nrm")), 4).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cid, rows) =>
          val arr = new Array[Double](rows.length)
          rows.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
          cid -> arr.toSeq
        }
      cents = cents.map { case (cid, old) => cid -> means.getOrElse(cid, old) }
    }
    centDf(cents)
  }

  /** DuckDB mirror of [[kmeansTrainRounded]]: the Lloyd rounds unrolled as
    * a CTE chain (assignment → rounded unit-vector means → regrouped list
    * with empty-cluster carry-over), ending in relation `ct`
    * (centroid_id, cv, cn). `iters` is a compile-time unroll — bounded and
    * small by contract, like the BPE trainer's merge rounds.
    */
  def kmeansTrainRoundedCtes(k: Int = 16, iters: Int = 3): String = {
    val rounds = (1 to iters).map { i =>
      val prev = if (i == 1) "c0" else s"c${i - 1}"
      s"""a$i AS (
         |  SELECT vec_id, centroid_id FROM (
         |    SELECT e0.vec_id, c.centroid_id, ROW_NUMBER() OVER (
         |      PARTITION BY e0.vec_id
         |      ORDER BY list_dot_product(e0.v, c.cv) / (e0.nrm * c.cn) DESC, c.centroid_id) AS rn
         |    FROM e0, $prev c)
         |  WHERE rn = 1),
         |m$i AS (
         |  SELECT centroid_id, i AS dim, round(avg(v[i] / nrm), 4) AS m
         |  FROM e0 JOIN a$i USING (vec_id),
         |       unnest(range(1, len(v) + 1)) AS t(i)
         |  GROUP BY centroid_id, i),
         |g$i AS (SELECT centroid_id, list(m ORDER BY dim) AS cv FROM m$i GROUP BY centroid_id),
         |c$i AS (
         |  SELECT c.centroid_id, coalesce(g.cv, c.cv) AS cv,
         |    sqrt(list_dot_product(coalesce(g.cv, c.cv), coalesce(g.cv, c.cv))) AS cn
         |  FROM $prev c LEFT JOIN g$i g USING (centroid_id))""".stripMargin
    }.mkString(",\n")
    s"""c0 AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn FROM e0 WHERE vec_id < $k),
       |$rounds,
       |ct AS (SELECT * FROM c$iters)""".stripMargin
  }

  /** Seed-vs-trained IVF recall attribution at EQUAL probe budget — what
    * Lloyd training buys the inverted-file quantizer, per query: the
    * existing recall harness run twice, once over the fixed first-k
    * centroids ([[annIvfMulti]]) and once over [[kmeansTrainRounded]]
    * centroids through the same [[annIvfMultiWith]] plan, joined on q_id.
    * Fully differential: the quantized trainer makes the trained side
    * oracle-expressible, so BOTH columns hash-check (no rows-only row).
    */
  def annRecallIvfTrained(spark: SparkSession, dir: String, nQueries: Int = 20,
                          k: Int = 5, kCentroids: Int = 16, nProbe: Int = 2,
                          iters: Int = 3): DataFrame = {
    val seed = recall(spark, dir,
        annIvfMulti(spark, dir, nQueries, k, kCentroids, nProbe), nQueries, k)
      .select(col("q_id"), col("n_hits").as("n_hits_seed"),
        col("recall_at_k").as("recall_seed"))
    val trained = sharedTrained(spark, dir, kCentroids, iters)
    val tr = recall(spark, dir,
        annIvfMultiWith(prepared(spark, dir), trained, nQueries, k, nProbe),
        nQueries, k)
      .select(col("q_id"), col("n_hits").as("n_hits_trained"),
        col("recall_at_k").as("recall_trained"))
    seed.join(tr, "q_id").orderBy("q_id")
  }

  def annRecallIvfTrainedSql(nQueries: Int = 20, k: Int = 5,
                             kCentroids: Int = 16, nProbe: Int = 2,
                             iters: Int = 3): String = {
    // trained-side search: annIvfMultiSql's plan with `ct` as the centroid
    // relation (assignment + probes over trained centroids)
    val trainedSearch =
      s"""WITH e0 AS ($preparedSql),
         |${kmeansTrainRoundedCtes(kCentroids, iters)},
         |assign AS (
         |  SELECT vec_id, centroid_id FROM (
         |    SELECT e0.vec_id, c.centroid_id, ROW_NUMBER() OVER (
         |      PARTITION BY e0.vec_id
         |      ORDER BY list_dot_product(e0.v, c.cv) / (e0.nrm * c.cn) DESC, c.centroid_id) AS rn
         |    FROM e0, ct c)
         |  WHERE rn = 1),
         |e AS (SELECT e0.*, assign.centroid_id FROM e0 JOIN assign USING (vec_id)),
         |q AS (
         |  SELECT centroid_id AS q_cent, vec_id AS q_id, v AS qv, nrm AS qn FROM (
         |    SELECT e0.vec_id, e0.v, e0.nrm, c.centroid_id, ROW_NUMBER() OVER (
         |      PARTITION BY e0.vec_id
         |      ORDER BY list_dot_product(e0.v, c.cv) / (e0.nrm * c.cn) DESC, c.centroid_id) AS rn
         |    FROM e0, ct c WHERE e0.vec_id < $nQueries)
         |  WHERE rn <= $nProbe),
         |sims AS (
         |  SELECT q.q_id, e.vec_id,
         |    round(list_dot_product(q.qv, e.v) / (q.qn * e.nrm), 4) AS cos_sim
         |  FROM e JOIN q ON e.centroid_id = q.q_cent AND e.vec_id <> q.q_id)
         |SELECT q_id, rank, vec_id AS neighbor_id, cos_sim FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (
         |    PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS INT) AS rank
         |  FROM sims)
         |WHERE rank <= $k""".stripMargin
    s"""WITH seed AS (
       |  SELECT q_id, n_hits AS n_hits_seed, recall_at_k AS recall_seed FROM (
       |    ${recallSql(annIvfMultiSql(nQueries, k, kCentroids, nProbe), nQueries, k)})),
       |tr AS (
       |  SELECT q_id, n_hits AS n_hits_trained, recall_at_k AS recall_trained FROM (
       |    ${recallSql(trainedSearch, nQueries, k)}))
       |SELECT q_id, n_hits_seed, recall_seed, n_hits_trained, recall_trained
       |FROM seed JOIN tr USING (q_id) ORDER BY q_id""".stripMargin
  }

  def annIvfMultiSql(nQueries: Int = 20, kNn: Int = 5, kCentroids: Int = 16,
                     nProbe: Int = 2): String =
    s"""WITH e0 AS ($preparedSql),
       |c AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn FROM e0 WHERE vec_id < $kCentroids),
       |assign AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT e0.vec_id, c.centroid_id, ROW_NUMBER() OVER (
       |      PARTITION BY e0.vec_id
       |      ORDER BY list_dot_product(e0.v, c.cv) / (e0.nrm * c.cn) DESC, c.centroid_id) AS rn
       |    FROM e0, c)
       |  WHERE rn = 1),
       |e AS (SELECT e0.*, assign.centroid_id FROM e0 JOIN assign USING (vec_id)),
       |q AS (
       |  SELECT centroid_id AS q_cent, vec_id AS q_id, v AS qv, nrm AS qn FROM (
       |    SELECT e0.vec_id, e0.v, e0.nrm, c.centroid_id, ROW_NUMBER() OVER (
       |      PARTITION BY e0.vec_id
       |      ORDER BY list_dot_product(e0.v, c.cv) / (e0.nrm * c.cn) DESC, c.centroid_id) AS rn
       |    FROM e0, c WHERE e0.vec_id < $nQueries)
       |  WHERE rn <= $nProbe),
       |sims AS (
       |  SELECT q.q_id, e.vec_id,
       |    round(list_dot_product(q.qv, e.v) / (q.qn * e.nrm), 4) AS cos_sim
       |  FROM e JOIN q ON e.centroid_id = q.q_cent AND e.vec_id <> q.q_id)
       |SELECT q_id, rank, vec_id AS neighbor_id, cos_sim FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (
       |    PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS INT) AS rank
       |  FROM sims)
       |WHERE rank <= $kNn
       |ORDER BY q_id, rank""".stripMargin

  // ---- metadata-filtered ANN: pre-filter vs post-filter ----

  /** Filtered exact top-k — the ground truth of the filtered-search tier:
    * each query's candidates are restricted to vectors sharing its `label`
    * (the "retrieve within my metadata slice" contract every production
    * vector store exposes as a filter clause — tenant, language, license).
    * Same broadcast-query / one-corpus-scan shape as [[knn]]; the label
    * equality rides the broadcast join condition, so filtering adds zero
    * shuffles and the scan still prunes on nothing but the corpus itself.
    */
  def knnFiltered(spark: SparkSession, dir: String, nQueries: Int = 20,
                  k: Int = 5): DataFrame = {
    val all = prepared(spark, dir)
    val q = broadcast(all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("v").as("qv"), col("nrm").as("qn")))
    val sims = all.join(q,
        col("label") === col("q_label") && col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim", round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4))
    topHits(sims, "cos_sim", k)
      .orderBy(col("q_id"), col("rank"))
  }

  def knnFilteredSql(nQueries: Int = 20, k: Int = 5): String =
    s"""WITH e AS ($preparedSql),
       |q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv, nrm AS qn
       |      FROM e WHERE vec_id < $nQueries),
       |sims AS (
       |  SELECT q.q_id, e.vec_id,
       |    round(list_dot_product(q.qv, e.v) / (q.qn * e.nrm), 4) AS cos_sim
       |  FROM e JOIN q ON e.label = q.q_label AND e.vec_id <> q.q_id)
       |SELECT q_id, rank, vec_id AS neighbor_id, cos_sim FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (
       |    PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS INT) AS rank
       |  FROM sims)
       |WHERE rank <= $k
       |ORDER BY q_id, rank""".stripMargin

  /** PRE-filter IVF search: the metadata predicate is applied to the
    * inverted lists BEFORE the top-k, so every one of the k slots is spent
    * on an eligible vector — the recall-preserving way to filter, and the
    * reason vector stores index the filter attribute next to the codes.
    * Plan shape is [[annIvfMulti]] with one extra equality in the probe
    * join (label = q_label): still one corpus shuffle on centroid_id,
    * probes broadcast, per-query top-k window; the filter shrinks the
    * scored candidate set by the slice selectivity instead of shrinking
    * the RESULT after scoring.
    */
  def annIvfFiltered(spark: SparkSession, dir: String, nQueries: Int = 20,
                     kNn: Int = 5, kCentroids: Int = 16, nProbe: Int = 2): DataFrame =
    sharedAnnHits(spark, "ivff", dir, s"$nQueries|$kNn|$kCentroids|$nProbe") {
      val assigned = sharedIvfAssign(spark, dir, kCentroids)
      val e = prepared(spark, dir).join(assigned, "vec_id")
      val qProbes = queryProbes(prepared(spark, dir), nQueries, kCentroids, nProbe, withLabel = true)
      val sims = e.join(broadcast(qProbes),
          col("centroid_id") === col("q_cent") && col("label") === col("q_label") &&
            col("vec_id") =!= col("q_id"))
        .withColumn("cos_sim", round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4))
      topHits(sims, "cos_sim", kNn)
    }
      .orderBy(col("q_id"), col("rank"))

  def annIvfFilteredSql(nQueries: Int = 20, kNn: Int = 5, kCentroids: Int = 16,
                        nProbe: Int = 2): String =
    s"""WITH e0 AS ($preparedSql),
       |c AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn FROM e0 WHERE vec_id < $kCentroids),
       |assign AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT e0.vec_id, c.centroid_id, ROW_NUMBER() OVER (
       |      PARTITION BY e0.vec_id
       |      ORDER BY list_dot_product(e0.v, c.cv) / (e0.nrm * c.cn) DESC, c.centroid_id) AS rn
       |    FROM e0, c)
       |  WHERE rn = 1),
       |e AS (SELECT e0.*, assign.centroid_id FROM e0 JOIN assign USING (vec_id)),
       |q AS (
       |  SELECT centroid_id AS q_cent, vec_id AS q_id, label AS q_label, v AS qv, nrm AS qn FROM (
       |    SELECT e0.vec_id, e0.label, e0.v, e0.nrm, c.centroid_id, ROW_NUMBER() OVER (
       |      PARTITION BY e0.vec_id
       |      ORDER BY list_dot_product(e0.v, c.cv) / (e0.nrm * c.cn) DESC, c.centroid_id) AS rn
       |    FROM e0, c WHERE e0.vec_id < $nQueries)
       |  WHERE rn <= $nProbe),
       |sims AS (
       |  SELECT q.q_id, e.vec_id,
       |    round(list_dot_product(q.qv, e.v) / (q.qn * e.nrm), 4) AS cos_sim
       |  FROM e JOIN q ON e.centroid_id = q.q_cent AND e.label = q.q_label
       |    AND e.vec_id <> q.q_id)
       |SELECT q_id, rank, vec_id AS neighbor_id, cos_sim FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (
       |    PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS INT) AS rank
       |  FROM sims)
       |WHERE rank <= $kNn
       |ORDER BY q_id, rank""".stripMargin

  /** POST-filter IVF search — the naive composition a reference user would
    * write first: run the UNFILTERED search with an expanded fetch budget
    * (`expand × k` candidates), then drop ineligible labels and keep the
    * first k survivors. Kept as a first-class operator because the recall
    * CONTRAST against [[annIvfFiltered]] is the measurement that justifies
    * indexing the filter attribute: at slice selectivity s, the expanded
    * fetch retains ~expand·k·s eligible rows, so any slice with
    * s < 1/expand starves the result no matter how good the index is.
    */
  def annIvfPostFiltered(spark: SparkSession, dir: String, nQueries: Int = 20,
                         kNn: Int = 5, kCentroids: Int = 16, nProbe: Int = 2,
                         expand: Int = 3): DataFrame = {
    val assigned = sharedIvfAssign(spark, dir, kCentroids)
    val e = prepared(spark, dir).join(assigned, "vec_id")
    val qProbes = queryProbes(prepared(spark, dir), nQueries, kCentroids, nProbe, withLabel = true)
    val sims = e.join(broadcast(qProbes),
        col("centroid_id") === col("q_cent") && col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim", round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4))
    Exprs.keepTop(sims, Seq(col("q_id")), Seq(col("cos_sim").desc, col("vec_id")),
        expand * kNn, "rank0")                      // the fetch budget
      .filter(col("label") === col("q_label"))       // then the predicate
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("rank0"))).cast("int"))
      .filter(col("rank") <= kNn)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cos_sim"))
      .orderBy(col("q_id"), col("rank"))
  }

  def annIvfPostFilteredSql(nQueries: Int = 20, kNn: Int = 5,
                            kCentroids: Int = 16, nProbe: Int = 2,
                            expand: Int = 3): String =
    s"""WITH e0 AS ($preparedSql),
       |c AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn FROM e0 WHERE vec_id < $kCentroids),
       |assign AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT e0.vec_id, c.centroid_id, ROW_NUMBER() OVER (
       |      PARTITION BY e0.vec_id
       |      ORDER BY list_dot_product(e0.v, c.cv) / (e0.nrm * c.cn) DESC, c.centroid_id) AS rn
       |    FROM e0, c)
       |  WHERE rn = 1),
       |e AS (SELECT e0.*, assign.centroid_id FROM e0 JOIN assign USING (vec_id)),
       |q AS (
       |  SELECT centroid_id AS q_cent, vec_id AS q_id, label AS q_label, v AS qv, nrm AS qn FROM (
       |    SELECT e0.vec_id, e0.label, e0.v, e0.nrm, c.centroid_id, ROW_NUMBER() OVER (
       |      PARTITION BY e0.vec_id
       |      ORDER BY list_dot_product(e0.v, c.cv) / (e0.nrm * c.cn) DESC, c.centroid_id) AS rn
       |    FROM e0, c WHERE e0.vec_id < $nQueries)
       |  WHERE rn <= $nProbe),
       |sims AS (
       |  SELECT q.q_id, q.q_label, e.vec_id, e.label,
       |    round(list_dot_product(q.qv, e.v) / (q.qn * e.nrm), 4) AS cos_sim
       |  FROM e JOIN q ON e.centroid_id = q.q_cent AND e.vec_id <> q.q_id),
       |fetched AS (
       |  SELECT * FROM (
       |    SELECT *, ROW_NUMBER() OVER (
       |      PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rank0
       |    FROM sims)
       |  WHERE rank0 <= ${expand * kNn} AND label = q_label)
       |SELECT q_id, rank, vec_id AS neighbor_id, cos_sim FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (
       |    PARTITION BY q_id ORDER BY rank0) AS INT) AS rank
       |  FROM fetched)
       |WHERE rank <= $kNn
       |ORDER BY q_id, rank""".stripMargin

  /** The filtered-search recall contrast, one row per query: hits of the
    * pre-filter and post-filter searches against the filtered exact top-k
    * ([[knnFiltered]]). This is the audit a pipeline runs before deciding
    * whether the filter attribute must live inside the index: recall_pre
    * is bounded only by IVF probe coverage, recall_post additionally loses
    * every slot the expanded fetch spent on ineligible labels. Comparison
    * is two narrow (q_id, neighbor_id) equi-joins — negligible at any
    * scale next to the searches themselves.
    */
  def annRecallFiltered(spark: SparkSession, dir: String, nQueries: Int = 20,
                        k: Int = 5, kCentroids: Int = 16, nProbe: Int = 2,
                        expand: Int = 3): DataFrame = {
    val exact = sharedKnnFilteredExact(spark, dir, nQueries, k)
    val pre = annIvfFiltered(spark, dir, nQueries, k, kCentroids, nProbe)
      .select(col("q_id"), col("neighbor_id")).withColumn("hit_pre", lit(1))
    val post = annIvfPostFiltered(spark, dir, nQueries, k, kCentroids, nProbe,
        expand)
      .select(col("q_id"), col("neighbor_id")).withColumn("hit_post", lit(1))
    exact.join(pre, Seq("q_id", "neighbor_id"), "left")
      .join(post, Seq("q_id", "neighbor_id"), "left")
      .groupBy(col("q_id"))
      .agg(
        sum(coalesce(col("hit_pre"), lit(0))).cast("long").as("n_hits_pre"),
        sum(coalesce(col("hit_post"), lit(0))).cast("long").as("n_hits_post"))
      .select(col("q_id"), col("n_hits_pre"), col("n_hits_post"),
        (col("n_hits_pre") / lit(k.toDouble)).as("recall_pre"),
        (col("n_hits_post") / lit(k.toDouble)).as("recall_post"))
      .orderBy(col("q_id"))
  }

  def annRecallFilteredSql(nQueries: Int = 20, k: Int = 5, kCentroids: Int = 16,
                           nProbe: Int = 2, expand: Int = 3): String =
    s"""WITH exact AS (SELECT q_id, neighbor_id FROM (${knnFilteredSql(nQueries, k)})),
       |pre AS (SELECT q_id, neighbor_id FROM (
       |  ${annIvfFilteredSql(nQueries, k, kCentroids, nProbe)})),
       |post AS (SELECT q_id, neighbor_id FROM (
       |  ${annIvfPostFilteredSql(nQueries, k, kCentroids, nProbe, expand)}))
       |SELECT q_id, n_hits_pre, n_hits_post,
       |  n_hits_pre / CAST($k AS DOUBLE) AS recall_pre,
       |  n_hits_post / CAST($k AS DOUBLE) AS recall_post
       |FROM (
       |  SELECT e.q_id,
       |    CAST(sum(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits_pre,
       |    CAST(sum(CASE WHEN o.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits_post
       |  FROM exact e
       |  LEFT JOIN pre p ON e.q_id = p.q_id AND e.neighbor_id = p.neighbor_id
       |  LEFT JOIN post o ON e.q_id = o.q_id AND e.neighbor_id = o.neighbor_id
       |  GROUP BY e.q_id)
       |ORDER BY q_id""".stripMargin

  // ---- margin-based cross-side pair mining (bitext-mining shape) ----

  /** Margin-scored mutual nearest-neighbor PAIR MINING across two vector
    * populations — the CCMatrix/LASER bitext-mining recipe that builds
    * parallel-text corpora, and the same machinery that mines
    * (caption, image) or (query, document) alignment pairs from a shared
    * embedding space. Sides here are the two label-parity halves of the
    * embeddings table (standing in for "source language" / "target
    * language"); a pair (a, b) is emitted when b is a's best cross-side
    * neighbor AND a is b's (mutual top-1), scored by the ratio margin
    * `cos(a,b) / mean(top-k cross-side cos of a, of b)` — absolute cosine
    * alone over-selects hub vectors; the margin normalizes by each side's
    * local neighborhood density (Artetxe & Schwenk).
    *
    * Determinism across engines: cosines are quantized to integers ONCE
    * (`floor(cos·10⁴ + ½)` — portable round-half-up, the [[quantize]]
    * rule), so every sum/rank below is exact integer math; the margin is
    * ONE final double division of exact integers, and ranks tie-break on
    * id. Variable candidate-list sizes (small cells) use the
    * count-weighted form `2·c·k_a·k_b / (s_a·k_b + s_b·k_a)` — the mean
    * of the two top-k means as a single rational.
    *
    * Scale shape: candidates are CELL-BOUNDED (both sides share the
    * session IVF assignment — one shuffle on centroid_id, per-cell
    * A×B join), never the n_A×n_B cross product; the two rank/sum
    * window families partition on a_id and b_id respectively, each a
    * cell-bounded partition. At 100 TB: raise kCentroids to hold cell
    * sizes constant (the `v_knn_graph` argument); boundary misses are the
    * standard IVF recall tradeoff, recovered by multi-probe if the mining
    * recall ever gates.
    */
  /** Session-shared (key `margpairs`) when locally materialized: the mined
    * pair relation is consumed in full by its own `v_margin_pairs` query
    * AND the [[marginRecall]] harness's approx arm — one miner run serves
    * both (deterministic integer-quantized scoring, so reuse is
    * value-neutral).
    */
  def marginPairs(spark: SparkSession, dir: String, k: Int = 4,
                  kCentroids: Int = 16, minMargin: Double = 1.0,
                  nProbe: Int = 4): DataFrame =
    graft.SharedRel(spark, s"margpairs|$dir|$k|$kCentroids|$minMargin|$nProbe")(
      marginCore(spark, dir, pmod(col("label"), lit(2)) === 0,
        k, kCentroids, minMargin, nProbe)).orderBy(col("a_id"))

  /** The DAILY-ARRIVAL form of [[marginPairs]] — new source-side vectors
    * (the salted delta split of the A parity) mined against the full
    * frozen target side, the shape an incremental bitext/alignment job
    * actually runs (yesterday's pairs are already shipped; only arrivals
    * need mining). Mutuality is evaluated WITHIN the job's candidate
    * relation: a frozen base A vector that would out-rank a delta arrival
    * for some b stays out of this job by contract — base pairs were mined
    * when THAT vector arrived, and re-opening them is the recompaction's
    * job. The same asymmetric-staleness contract as `v_knn_graph_incr`,
    * spec-pinned on a crafted fixture. Work is delta-bound: the probe
    * side is 1/deltaMod of one parity; everything else is the
    * [[marginPairs]] plan unchanged.
    */
  def marginPairsIncr(spark: SparkSession, dir: String, deltaMod: Int = 5,
                      k: Int = 4, kCentroids: Int = 16,
                      minMargin: Double = 1.0, nProbe: Int = 4): DataFrame =
    marginCore(spark, dir,
      pmod(col("label"), lit(2)) === 0 && Exprs.arrivalSplit(col("vec_id"), deltaMod) === 0,
      k, kCentroids, minMargin, nProbe).orderBy(col("a_id"))

  private[graft] def marginCore(spark: SparkSession, dir: String, aFilter: Column,
                         k: Int, kCentroids: Int, minMargin: Double,
                         nProbe: Int): DataFrame = {
    // the kCentroids == 1 branch below skips the probe cap, so a probe
    // count below 1 would mine the full A side instead of nothing
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val e = prepared(spark, dir)
    // A-side vectors probe their nProbe nearest cells (every A vector is a
    // query here — the multi-probe that recovers cross-cell partners the
    // single-cell candidate join misses; v_recall_margin measures the
    // difference); B-side vectors stay in their one assigned list, so a
    // candidate pair is generated at most once per probed cell and the
    // fan-out is exactly nProbe×.
    val cents = broadcast(e.filter(col("vec_id") < kCentroids)
      .select(col("vec_id").as("centroid_id"), col("v").as("cv"), col("nrm").as("cn")))
    if (kCentroids == 1) {
      // degenerate single cell (the exact-miner harness arm, r22): the
      // argmax assignment and the probe ranking are identities over the
      // one candidate (row_number ≡ 1 ≤ nProbe), so both vec_id-keyed
      // window exchanges of the vector payload — and the shared ivf|…|1
      // assignment build — are skipped outright; values are unchanged.
      val a = e.filter(aFilter).join(cents)
        .select(col("centroid_id"), col("vec_id").as("a_id"),
          col("v").as("va"), col("nrm").as("na"))
      val b = e.filter(pmod(col("label"), lit(2)) === 1).join(cents)
        .select(col("centroid_id"), col("vec_id").as("b_id"),
          col("v").as("vb"), col("nrm").as("nb"))
      marginJoinScore(a, b, k, minMargin)
    } else {
      val assigned = sharedIvfAssign(spark, dir, kCentroids)
      val a = Exprs.keepTop(e.filter(aFilter).join(cents), Seq(col("vec_id")), nearestCentroid,
          nProbe, "__rn")
        .select(col("centroid_id"), col("vec_id").as("a_id"),
          col("v").as("va"), col("nrm").as("na"))
      val b = e.join(assigned, "vec_id").filter(pmod(col("label"), lit(2)) === 1)
        .select(col("centroid_id"), col("vec_id").as("b_id"),
          col("v").as("vb"), col("nrm").as("nb"))
      marginJoinScore(a, b, k, minMargin)
    }
  }

  /** The cell-join + mutual-top-1 + margin scoring shared by the batch
    * miners ([[marginPairs]]/[[marginPairsIncr]] via `marginCore`) and the
    * streaming twin (`MarginStream`, which builds its own probe side from
    * the micro-batch arrivals and its frozen target side once). Inputs:
    * `a` = (centroid_id, a_id, va, na) probe rows, `b` =
    * (centroid_id, b_id, vb, nb) one row per target vector in its
    * assigned cell. Candidate pairs are cell-bounded (never n_A×n_B);
    * cosines quantize to integers once so the window sums are exact and
    * cross-engine deterministic.
    */
  private[graft] def marginJoinScore(a: DataFrame, b: DataFrame,
                                     k: Int, minMargin: Double): DataFrame = {
    val pairs = a.join(b, Seq("centroid_id"))
      .withColumn("c_int",
        floor(dot(col("va"), col("vb")) / (col("na") * col("nb")) * 10000 + 0.5)
          .cast("long"))
      .select("a_id", "b_id", "c_int")
    val wa = Window.partitionBy(col("a_id")).orderBy(col("c_int").desc, col("b_id"))
    val wb = Window.partitionBy(col("b_id")).orderBy(col("c_int").desc, col("a_id"))
    val pa = Window.partitionBy(col("a_id"))
    val pb = Window.partitionBy(col("b_id"))
    // window order groups SAME-KEY windows adjacently (rank then sums on
    // a_id, then rank and sums on b_id) so each side costs ONE hash
    // exchange; the alternating order a→b→a→b planned four
    val scored = pairs
      .withColumn("rn_a", row_number().over(wa))
      .withColumn("s_a", sum(when(col("rn_a") <= k, col("c_int"))).over(pa))
      .withColumn("k_a", count(when(col("rn_a") <= k, lit(1))).over(pa))
      .withColumn("rn_b", row_number().over(wb))
      .withColumn("s_b", sum(when(col("rn_b") <= k, col("c_int"))).over(pb))
      .withColumn("k_b", count(when(col("rn_b") <= k, lit(1))).over(pb))
      .filter(col("rn_a") === 1 && col("rn_b") === 1)
      // all-negative neighborhoods can zero the denominator; both engines
      // disagree on double /0, so exclude them exactly (integer compare)
      .filter(col("s_a") * col("k_b") + col("s_b") * col("k_a") > 0)
      .withColumn("margin",
        round(lit(2.0) * col("c_int") * col("k_a") * col("k_b") /
          (col("s_a") * col("k_b") + col("s_b") * col("k_a")), 4))
      .filter(col("margin") > minMargin)
    scored.select(col("a_id"), col("b_id"),
      (col("c_int") / 10000.0).as("cos_sim"), col("margin"))
  }

  def marginPairsIncrSql(deltaMod: Int = 5, k: Int = 4, kCentroids: Int = 16,
                         minMargin: Double = 1.0, nProbe: Int = 4): String =
    marginPairsSql(k, kCentroids, minMargin, nProbe,
      aWhere = s"e0.label % 2 = 0 AND ${Exprs.arrivalSplitSql("e0.vec_id", deltaMod)} = 0")

  /** `centCtes`/`centRel` inject a NON-SEED centroid relation (e.g. the
    * trained `ct` chain from [[kmeansTrainRoundedCtes]]) in place of the
    * default first-k `c` — the oracle side of [[marginCoreWith]].
    */
  def marginPairsSql(k: Int = 4, kCentroids: Int = 16,
                     minMargin: Double = 1.0, nProbe: Int = 4,
                     aWhere: String = "e0.label % 2 = 0",
                     centCtes: String = "", centRel: String = ""): String = {
    val extra = if (centCtes.isEmpty) "" else centCtes + ",\n"
    val cDef =
      if (centRel.nonEmpty) ""
      else s"c AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn FROM e0 WHERE vec_id < $kCentroids),\n"
    val cn = if (centRel.nonEmpty) centRel else "c"
    s"""WITH e0 AS ($preparedSql),
       |$extra${cDef}assign AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT e0.vec_id, c.centroid_id, ROW_NUMBER() OVER (
       |      PARTITION BY e0.vec_id
       |      ORDER BY list_dot_product(e0.v, c.cv) / (e0.nrm * c.cn) DESC, c.centroid_id) AS rn
       |    FROM e0, $cn c)
       |  WHERE rn = 1),
       |aprobe AS (
       |  SELECT centroid_id, vec_id, v, nrm FROM (
       |    SELECT e0.vec_id, e0.v, e0.nrm, c.centroid_id, ROW_NUMBER() OVER (
       |      PARTITION BY e0.vec_id
       |      ORDER BY list_dot_product(e0.v, c.cv) / (e0.nrm * c.cn) DESC, c.centroid_id) AS rn
       |    FROM e0, $cn c WHERE $aWhere)
       |  WHERE rn <= $nProbe),
       |bside AS (
       |  SELECT assign.centroid_id, e0.vec_id, e0.v, e0.nrm
       |  FROM e0 JOIN assign USING (vec_id) WHERE e0.label % 2 = 1),
       |pairs AS (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |    CAST(floor(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) * 10000 + 0.5) AS BIGINT) AS c_int
       |  FROM aprobe a JOIN bside b ON a.centroid_id = b.centroid_id),
       |ranked AS (
       |  SELECT *,
       |    ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY c_int DESC, b_id) AS rn_a,
       |    ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY c_int DESC, a_id) AS rn_b
       |  FROM pairs),
       |scored AS (
       |  SELECT *,
       |    CAST(sum(CASE WHEN rn_a <= $k THEN c_int END) OVER (PARTITION BY a_id) AS BIGINT) AS s_a,
       |    CAST(count(CASE WHEN rn_a <= $k THEN 1 END) OVER (PARTITION BY a_id) AS BIGINT) AS k_a,
       |    CAST(sum(CASE WHEN rn_b <= $k THEN c_int END) OVER (PARTITION BY b_id) AS BIGINT) AS s_b,
       |    CAST(count(CASE WHEN rn_b <= $k THEN 1 END) OVER (PARTITION BY b_id) AS BIGINT) AS k_b
       |  FROM ranked)
       |SELECT a_id, b_id, c_int / 10000.0 AS cos_sim, margin FROM (
       |  SELECT a_id, b_id, c_int,
       |    round(2.0 * c_int * k_a * k_b /
       |      (s_a * k_b + s_b * k_a), 4) AS margin
       |  FROM scored WHERE rn_a = 1 AND rn_b = 1
       |    AND s_a * k_b + s_b * k_a > 0)
       |WHERE margin > $minMargin
       |ORDER BY a_id""".stripMargin
  }

  /** Mining-recall harness for [[marginPairs]] — the cell-bounded miner
    * against the EXACT cross-side mutual-top-1 relation, which is just
    * `marginPairs` with one cell (kCentroids = 1 puts every vector in the
    * same inverted list, so candidate generation degenerates to the full
    * A×B relation — a verification harness by construction, like
    * [[nearDupExact]]; never the production path). One summary row of
    * integer counts + permille ratios: recall = mined ∩ exact / exact,
    * precision likewise — the same contract as the ANN `v_recall*` matrix
    * and the text tier's `d_lsh_recall`. The comparison is a narrow
    * (a_id, b_id) equi-join; the harness's cost is the exact miner.
    */
  /** The exact (kCentroids = 1) mutual-top-1 pair relation both mining-
    * recall harnesses compare against, session-shared: deterministic,
    * and the single most expensive piece of either harness.
    */
  private def sharedMarginExact(spark: SparkSession, dir: String, k: Int,
                                minMargin: Double): DataFrame =
    graft.SharedRel(spark, s"marginexact|$dir|$k|$minMargin")(
      // the kCentroids = 1 miner built directly (not via the shared
      // marginPairs surface — a nested one-consumer `margpairs|…|1` entry
      // would just duplicate this checkpoint)
      marginCore(spark, dir, pmod(col("label"), lit(2)) === 0,
        k, 1, minMargin, nProbe = 4)
        .select(col("a_id"), col("b_id")))

  def marginRecall(spark: SparkSession, dir: String, k: Int = 4,
                   kCentroids: Int = 16, minMargin: Double = 1.0): DataFrame = {
    val approx = marginPairs(spark, dir, k, kCentroids, minMargin)
      .select(col("a_id"), col("b_id")).withColumn("ap", lit(1))
    val exact = sharedMarginExact(spark, dir, k, minMargin)
      .withColumn("ex", lit(1))
    exact.join(approx, Seq("a_id", "b_id"), "full_outer")
      .agg(
        // outer coalesce: sum over ZERO rows (nothing mined, nothing
        // exact) is null — the report must say 0
        coalesce(sum(coalesce(col("ex"), lit(0))), lit(0L))
          .cast("long").as("n_exact"),
        coalesce(sum(coalesce(col("ap"), lit(0))), lit(0L))
          .cast("long").as("n_mined"),
        coalesce(sum(when(col("ex") === 1 && col("ap") === 1, 1L)
          .otherwise(0L)), lit(0L)).cast("long").as("n_common"))
      // degenerate inputs (empty corpus, nothing mined) must yield a
      // well-defined 0, not a null the summary row silently carries
      .withColumn("recall_pm",
        when(col("n_exact") > 0, expr("n_common * 1000L div n_exact"))
          .otherwise(lit(0L)))
      .withColumn("precision_pm",
        when(col("n_mined") > 0, expr("n_common * 1000L div n_mined"))
          .otherwise(lit(0L)))
  }

  /** Seed-vs-trained mining recall at EQUAL probe budget — what Lloyd
    * training buys the MARGIN MINER (the [[annRecallIvfTrained]] question
    * asked of the bitext-mining tier): the cell-bounded miner runs under
    * both quantizers at nProbe ∈ {1, 4, 8}, each against the one exact
    * mutual-top-1 relation, yielding a 6-row tuning curve of integer
    * counts + permille recall/precision. This is the table that decides
    * whether a mining deployment pays for quantizer training or just
    * raises nProbe. Cost: the exact relation once (materialized, reused
    * by all six contrasts) + six cell-bounded miner runs; the trained
    * centroids are the session-shared [[kmeansTrainRounded]] relation.
    */
  def marginRecallTrained(spark: SparkSession, dir: String, k: Int = 4,
                          kCentroids: Int = 16, iters: Int = 3,
                          minMargin: Double = 1.0,
                          probes: Seq[Int] = Seq(1, 4, 8)): DataFrame = {
    val exact = sharedMarginExact(spark, dir, k, minMargin)
      .withColumn("ex", lit(1))
    def row(mined: DataFrame, quant: String, np: Int): DataFrame =
      exact.join(mined.select(col("a_id"), col("b_id")).withColumn("ap", lit(1)),
          Seq("a_id", "b_id"), "full_outer")
        .agg(
          coalesce(sum(coalesce(col("ex"), lit(0))), lit(0L))
            .cast("long").as("n_exact"),
          coalesce(sum(coalesce(col("ap"), lit(0))), lit(0L))
            .cast("long").as("n_mined"),
          coalesce(sum(when(col("ex") === 1 && col("ap") === 1, 1L)
            .otherwise(0L)), lit(0L)).cast("long").as("n_common"))
        .withColumn("recall_pm",
          when(col("n_exact") > 0, expr("n_common * 1000L div n_exact"))
            .otherwise(lit(0L)))
        .withColumn("precision_pm",
          when(col("n_mined") > 0, expr("n_common * 1000L div n_mined"))
            .otherwise(lit(0L)))
        .select(lit(quant).as("quantizer"), lit(np).as("n_probe"),
          col("n_exact"), col("n_mined"), col("n_common"),
          col("recall_pm"), col("precision_pm"))
    val aF = pmod(col("label"), lit(2)) === 0
    val e = prepared(spark, dir)
    // per quantizer, rank the probe list ONCE at max(probes) and reuse the
    // materialized relation for every budget (rn <= np is a filter, not a
    // re-scoring) — the centroid-scoring pass is the dominant cost and is
    // identical across the curve
    def sides(cents0: DataFrame): (DataFrame, DataFrame) = {
      val cents = broadcast(cents0.select(col("centroid_id"), col("cv"), col("cn")))
      val a = Materialize(Exprs.keepTop(e.filter(aF).join(cents), Seq(col("vec_id")),
          nearestCentroid, probes.max, "__rn")
        .select(col("centroid_id"), col("vec_id").as("a_id"),
          col("v").as("va"), col("nrm").as("na"), col("__rn")))
      val b = Materialize(Dedup.keepFirst(
          e.filter(pmod(col("label"), lit(2)) === 1).join(cents), Seq(col("vec_id")),
          nearestCentroid)
        .select(col("centroid_id"), col("vec_id").as("b_id"),
          col("v").as("vb"), col("nrm").as("nb")))
      (a, b)
    }
    val seedCents = e.filter(col("vec_id") < kCentroids)
      .select(col("vec_id").as("centroid_id"), col("v").as("cv"), col("nrm").as("cn"))
    val bySide = Seq(
      "seed" -> sides(seedCents),
      "trained" -> sides(sharedTrained(spark, dir, kCentroids, iters)))
    probes.flatMap { np =>
      bySide.map { case (quant, (a, b)) =>
        row(marginJoinScore(a.filter(col("__rn") <= np).drop("__rn"), b,
          k, minMargin), quant, np)
      }
    }.reduce(_ unionAll _).orderBy(col("quantizer"), col("n_probe"))
  }

  def marginRecallTrainedSql(k: Int = 4, kCentroids: Int = 16,
                             iters: Int = 3, minMargin: Double = 1.0,
                             probes: Seq[Int] = Seq(1, 4, 8)): String = {
    def minedSql(np: Int, trained: Boolean): String =
      if (trained)
        marginPairsSql(k, kCentroids, minMargin, np,
          centCtes = kmeansTrainRoundedCtes(kCentroids, iters), centRel = "ct")
      else marginPairsSql(k, kCentroids, minMargin, np)
    def rowSql(quant: String, np: Int): String =
      s"""SELECT '$quant' AS quantizer, $np AS n_probe, n_exact, n_mined, n_common,
         |  CASE WHEN n_exact > 0 THEN n_common * 1000 // n_exact
         |       ELSE 0 END AS recall_pm,
         |  CASE WHEN n_mined > 0 THEN n_common * 1000 // n_mined
         |       ELSE 0 END AS precision_pm
         |FROM (
         |  SELECT CAST(coalesce(sum(ex), 0) AS BIGINT) AS n_exact,
         |    CAST(coalesce(sum(ap), 0) AS BIGINT) AS n_mined,
         |    CAST(coalesce(sum(CASE WHEN ex = 1 AND ap = 1 THEN 1 ELSE 0 END), 0)
         |         AS BIGINT) AS n_common
         |  FROM (
         |    SELECT CASE WHEN e.a_id IS NOT NULL THEN 1 ELSE 0 END AS ex,
         |      CASE WHEN m.a_id IS NOT NULL THEN 1 ELSE 0 END AS ap
         |    FROM exact e FULL OUTER JOIN (
         |      SELECT a_id, b_id FROM (${minedSql(np, quant == "trained")})) m
         |      ON e.a_id = m.a_id AND e.b_id = m.b_id))""".stripMargin
    val rows = probes.flatMap(np => Seq(rowSql("seed", np), rowSql("trained", np)))
    s"""WITH exact AS (SELECT a_id, b_id FROM (
       |  ${marginPairsSql(k, 1, minMargin)}))
       |SELECT * FROM (
       |${rows.map(r => s"($r)").mkString("\nUNION ALL\n")})
       |ORDER BY quantizer, n_probe""".stripMargin
  }

  def marginRecallSql(k: Int = 4, kCentroids: Int = 16,
                      minMargin: Double = 1.0): String =
    s"""WITH approx AS (SELECT a_id, b_id FROM (
       |  ${marginPairsSql(k, kCentroids, minMargin)})),
       |exact AS (SELECT a_id, b_id FROM (
       |  ${marginPairsSql(k, 1, minMargin)})),
       |j AS (
       |  SELECT coalesce(e.a_id, a.a_id) AS a_id,
       |    CASE WHEN e.a_id IS NOT NULL THEN 1 ELSE 0 END AS ex,
       |    CASE WHEN a.a_id IS NOT NULL THEN 1 ELSE 0 END AS ap
       |  FROM exact e FULL OUTER JOIN approx a
       |    ON e.a_id = a.a_id AND e.b_id = a.b_id)
       |SELECT n_exact, n_mined, n_common,
       |  CASE WHEN n_exact > 0 THEN n_common * 1000 // n_exact
       |       ELSE 0 END AS recall_pm,
       |  CASE WHEN n_mined > 0 THEN n_common * 1000 // n_mined
       |       ELSE 0 END AS precision_pm
       |FROM (
       |  SELECT CAST(coalesce(sum(ex), 0) AS BIGINT) AS n_exact,
       |    CAST(coalesce(sum(ap), 0) AS BIGINT) AS n_mined,
       |    CAST(coalesce(sum(CASE WHEN ex = 1 AND ap = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_common
       |  FROM j)""".stripMargin

  /** Scalar int8 quantization audit — the embedding STORAGE path at corpus
    * scale (4 bytes/dim → 1, before product quantization): per-vector
    * symmetric scale `max|x|/127`, round-half-up code (`floor(x/s + 0.5)`,
    * portable — unlike `round()`, whose half-even vs half-up behavior
    * differs between engines), and the reconstruction-error audit columns a
    * pipeline gates on. Only order-INDEPENDENT per-vector stats are emitted
    * (max error, exact-dim count) — a sum of IEEE errors would depend on
    * fold order and break cross-engine parity. Pure `transform`/`aggregate`
    * column expressions: one scan, no shuffle, fully codegen'd.
    */
  def quantize(spark: SparkSession, dir: String): DataFrame =
    prepared(spark, dir)
      .withColumn("max_abs",
        expr("aggregate(v, CAST(0.0 AS DOUBLE), (acc, x) -> greatest(acc, abs(x)))"))
      .withColumn("scale", col("max_abs") / 127.0)
      .select(
        col("vec_id"), col("scale"),
        expr("""CASE WHEN scale = 0.0 THEN CAST(0.0 AS DOUBLE)
               |ELSE aggregate(
               |  transform(v, x -> abs(floor(x / scale + 0.5d) * scale - x)),
               |  CAST(0.0 AS DOUBLE), (acc, e) -> greatest(acc, e)) END""".stripMargin)
          .as("max_abs_err"),
        expr("""CASE WHEN scale = 0.0 THEN size(v)
               |ELSE aggregate(v, 0,
               |  (acc, x) -> acc + CAST(floor(x / scale + 0.5d) * scale = x AS INT)) END""".stripMargin)
          .as("n_exact"))

  val quantizeSql: String =
    s"""WITH e AS ($preparedSql),
       |m AS (
       |  SELECT vec_id, v,
       |    list_aggregate(list_transform(v, x -> abs(x)), 'max') AS max_abs
       |  FROM e)
       |SELECT vec_id, max_abs / 127.0 AS scale,
       |  CASE WHEN max_abs / 127.0 = 0.0 THEN 0.0
       |       ELSE list_aggregate(list_transform(v,
       |         x -> abs(floor(x / (max_abs / 127.0) + 0.5) * (max_abs / 127.0) - x)), 'max')
       |  END AS max_abs_err,
       |  CAST(CASE WHEN max_abs / 127.0 = 0.0 THEN len(v)
       |       ELSE len(list_filter(v,
       |         x -> floor(x / (max_abs / 127.0) + 0.5) * (max_abs / 127.0) = x))
       |  END AS INT) AS n_exact
       |FROM m ORDER BY vec_id""".stripMargin

  /** Split vectors into `blocks` equal sub-vectors, one row per
    * (id, block, sub-vector) — shared by the PQ assign and search halves so
    * the block layout can never diverge between them.
    */
  private def pqSubVectors(df: DataFrame, idCol: String, blocks: Int): DataFrame = {
    val dim = 64 // embeddings table width (TESTDATA.md)
    require(dim % blocks == 0, s"dim $dim not divisible by $blocks blocks")
    val sub = dim / blocks
    df.select(col("vec_id").as(idCol), col("v"),
        explode(array((0 until blocks).map(lit): _*)).as("block"))
      .select(col(idCol), col("block"),
        slice(col("v"), col("block") * sub + 1, lit(sub)).as("sv"))
  }

  /** Product-quantization code assignment — the codebook half of the
    * IVF+PQ stack ([[annIvf]]/[[annIvfMulti]] being the IVF half): the
    * vector splits into `blocks` sub-vectors, each assigned to its nearest
    * sub-codeword by L2 (computed as the dot-product form
    * `argmax ⟨x,c⟩ − ½⟨c,c⟩`, reusing the codegen'd dot product). Like
    * [[ivfAssign]], the codebook is the first `k` vectors' blocks —
    * deterministic, so the assignment is oracle-checkable. Plan: broadcast
    * codebook, one scan of the corpus, argmax window per (vector, block),
    * no shuffle of the embedding payload. Output codes are `blocks` small
    * ints per vector — the 4-bytes/dim → blocks-bytes/vector storage path.
    */
  def pqAssign(spark: SparkSession, dir: String, blocks: Int = 4,
               k: Int = 16): DataFrame = {
    val e = prepared(spark, dir)
    val corpus = pqSubVectors(e, "vec_id", blocks)
    val code = broadcast(pqSubVectors(e.filter(col("vec_id") < k), "cid", blocks)
      .select(col("cid"), col("block"), col("sv").as("cv")))
    nearestCodeword(corpus.join(code, "block"), "rn")
      .select(col("vec_id"), col("block"), col("cid").cast("int").as("code"))
  }

  def pqAssignSql(blocks: Int = 4, k: Int = 16): String = {
    val sub = 64 / blocks
    s"""WITH e AS ($preparedSql),
       |b AS (SELECT unnest(range(0, $blocks)) AS block),
       |sv AS (
       |  SELECT vec_id, block, v[block * $sub + 1 : block * $sub + $sub] AS sv
       |  FROM e, b),
       |cw AS (SELECT vec_id AS cid, block, sv AS cv FROM sv WHERE vec_id < $k),
       |scored AS (
       |  SELECT sv.vec_id, sv.block, cw.cid,
       |    list_dot_product(sv.sv, cw.cv) - 0.5 * list_dot_product(cw.cv, cw.cv) AS score
       |  FROM sv JOIN cw USING (block))
       |SELECT vec_id, CAST(block AS INT) AS block, CAST(cid AS INT) AS code FROM (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY vec_id, block ORDER BY score DESC, cid) AS rn
       |  FROM scored)
       |WHERE rn = 1 ORDER BY vec_id, block""".stripMargin
  }

  /** PQ asymmetric-distance search (ADC) — the query half of IVF+PQ: each
    * query scores every vector using ONLY its `blocks` codes and the
    * codebook (`Σ_b ⟨q_b, codeword(code_b)⟩`, the classic ADC inner
    * product), never touching the stored embeddings. The per-(query, block,
    * codeword) lookup table is tiny (`nQueries × blocks × k` rows) and
    * broadcast; the code table joins it and the per-vector score is the
    * FIXED-ORDER sum of the block columns (a `sum()` over block rows would
    * reorder IEEE addition and break cross-engine parity). One shuffle-free
    * scan of the codes + a per-query top-k window.
    */
  /** ADC lookup table — every (query block) × (codeword) inner product;
    * shared by [[annPq]] and [[annIvfPq]] so the PQ scoring halves cannot
    * drift.
    */
  private def adcLut(e: DataFrame, nQueries: Int, blocks: Int, k: Int): DataFrame = {
    val qs = pqSubVectors(e.filter(col("vec_id") < nQueries), "q_id", blocks)
    val cw = pqSubVectors(e.filter(col("vec_id") < k), "cid", blocks)
      .withColumnRenamed("sv", "cv")
    qs.join(cw, "block")
      .select(col("q_id"), col("block"), col("cid").as("code"),
        dot(col("sv"), col("cv")).as("s"))
  }

  def annPq(spark: SparkSession, dir: String, nQueries: Int = 20, kNn: Int = 5,
            blocks: Int = 4, k: Int = 16): DataFrame =
    sharedAnnHits(spark, "pq", dir, s"$nQueries|$kNn|$blocks|$k") {
      val e = prepared(spark, dir)
      val codes = sharedPqCodes(spark, dir, blocks, k)
      val lut = broadcast(adcLut(e, nQueries, blocks, k))
      val scored = codes.withColumn("code", col("code").cast("long"))
        .join(lut, Seq("block", "code"))
        .filter(col("vec_id") =!= col("q_id"))
        .groupBy(col("q_id"), col("vec_id"))
        .agg(
          first(when(col("block") === 0, col("s")), ignoreNulls = true).as("s0"),
          (1 until blocks).map(b =>
            first(when(col("block") === b, col("s")), ignoreNulls = true).as(s"s$b")): _*)
        .withColumn("adc_score",
          round((0 until blocks).map(b => col(s"s$b")).reduce(_ + _), 4))
      topHits(scored, "adc_score", kNn)
    }

  def annPqSql(nQueries: Int = 20, kNn: Int = 5, blocks: Int = 4, k: Int = 16): String = {
    val sub = 64 / blocks
    val sumExpr = (0 until blocks).map(b => s"s$b").mkString(" + ")
    val pivotCols = (0 until blocks)
      .map(b => s"max(CASE WHEN codes.block = $b THEN s END) AS s$b").mkString(",\n    ")
    s"""WITH e AS ($preparedSql),
       |b AS (SELECT unnest(range(0, $blocks)) AS block),
       |sv AS (
       |  SELECT vec_id, block, v[block * $sub + 1 : block * $sub + $sub] AS sv
       |  FROM e, b),
       |codes AS (
       |  SELECT vec_id, block, cid AS code FROM (
       |    SELECT sv.vec_id, sv.block, cw.cid, ROW_NUMBER() OVER (
       |      PARTITION BY sv.vec_id, sv.block
       |      ORDER BY list_dot_product(sv.sv, cw.cv) - 0.5 * list_dot_product(cw.cv, cw.cv) DESC,
       |               cw.cid) AS rn
       |    FROM sv
       |    JOIN (SELECT vec_id AS cid, block, sv AS cv FROM sv WHERE vec_id < $k) cw
       |      USING (block))
       |  WHERE rn = 1),
       |lut AS (
       |  SELECT q.vec_id AS q_id, q.block, cw.cid AS code,
       |    list_dot_product(q.sv, cw.cv) AS s
       |  FROM sv q
       |  JOIN (SELECT vec_id AS cid, block, sv AS cv FROM sv WHERE vec_id < $k) cw
       |    USING (block)
       |  WHERE q.vec_id < $nQueries),
       |pivoted AS (
       |  SELECT lut.q_id, codes.vec_id,
       |    $pivotCols
       |  FROM codes JOIN lut ON codes.block = lut.block AND codes.code = lut.code
       |  WHERE codes.vec_id <> lut.q_id
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT q_id, vec_id, round($sumExpr, 4) AS adc_score FROM pivoted)
       |SELECT q_id, rank, vec_id AS neighbor_id, adc_score FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (
       |    PARTITION BY q_id ORDER BY adc_score DESC, vec_id) AS INT) AS rank
       |  FROM scored)
       |WHERE rank <= $kNn
       |ORDER BY q_id, rank""".stripMargin
  }

  /** One Lloyd (k-means) iteration over the corpus: assign every vector to
    * its nearest fixed centroid (cosine, via [[ivfAssign]]) and recompute
    * each centroid as the per-dimension mean of its members — emitted in
    * exploded (centroid, dim, mean) form so the result stays a flat
    * oracle-comparable table.
    *
    * Scale shape: centroids broadcast; one shuffle of (vector × dim) keyed
    * by (centroid, dim) with map-side partial sums — the standard
    * distributed k-means step. A full training loop is this query iterated
    * with the recomputed centroids fed back in.
    */
  def kmeansStep(spark: SparkSession, dir: String, k: Int = 16): DataFrame = {
    val assigned = sharedIvfAssign(spark, dir, k)
    prepared(spark, dir).join(assigned, "vec_id")
      .select(col("centroid_id"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("centroid_id"), (col("pos") + 1).as("dim"))
      // + 0.0 normalizes IEEE negative zero: Spark's round() turns a tiny
      // negative mean into 0.0 while DuckDB's keeps -0.0, and the driver's
      // repr-based compare distinguishes them
      .agg((round(avg(col("x")), 4) + lit(0.0)).as("mean_x"), count(lit(1)).as("n_members"))
      .orderBy(col("centroid_id"), col("dim"))
  }

  def kmeansStepSql(k: Int = 16): String =
    s"""WITH e0 AS ($preparedSql),
       |c AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn FROM e0 WHERE vec_id < $k),
       |assign AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT e0.vec_id, c.centroid_id, ROW_NUMBER() OVER (
       |      PARTITION BY e0.vec_id
       |      ORDER BY list_dot_product(e0.v, c.cv) / (e0.nrm * c.cn) DESC, c.centroid_id) AS rn
       |    FROM e0, c)
       |  WHERE rn = 1)
       |SELECT centroid_id, CAST(i AS INT) AS dim,
       |  round(avg(v[i]), 4) + CAST(0.0 AS DOUBLE) AS mean_x, count(*) AS n_members
       |FROM e0 JOIN assign USING (vec_id),
       |     unnest(range(1, len(v) + 1)) AS t(i)
       |GROUP BY centroid_id, i
       |ORDER BY centroid_id, dim""".stripMargin

  /** ANN via the LSH buckets: top-k within the query's own bucket only
    * (single-probe). Recall vs [[knn]] is the standard IVF/LSH tradeoff.
    */
  def annLsh(spark: SparkSession, dir: String, nQueries: Int = 20, k: Int = 5, bits: Int = 4): DataFrame =
    sharedAnnHits(spark, "lsh", dir, s"$nQueries|$k|$bits") {
      val e = prepared(spark, dir).withColumn("bkt", bucketExpr(col("v"), bits))
      val q = broadcast(e.filter(col("vec_id") < nQueries)
        .select(col("bkt"), col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")))
      val sims = e.join(q, Seq("bkt")).filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos_sim", round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4))
      topHits(sims, "cos_sim", k)
    }
      .orderBy(col("q_id"), col("rank"))

  def annLshSql(nQueries: Int = 20, k: Int = 5, bits: Int = 4): String =
    s"""WITH e AS (SELECT *, ${bucketSql(bits)} AS bkt FROM ($preparedSql)),
       |q AS (SELECT bkt, vec_id AS q_id, v AS qv, nrm AS qn FROM e WHERE vec_id < $nQueries),
       |sims AS (
       |  SELECT q.q_id, e.vec_id,
       |    round(list_dot_product(q.qv, e.v) / (q.qn * e.nrm), 4) AS cos_sim
       |  FROM e JOIN q ON e.bkt = q.bkt AND e.vec_id <> q.q_id)
       |SELECT q_id, rank, vec_id AS neighbor_id, cos_sim FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (
       |    PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS INT) AS rank
       |  FROM sims)
       |WHERE rank <= $k
       |ORDER BY q_id, rank""".stripMargin

  /** Scalar-quantized (SQ8) asymmetric search — the storage tier between
    * full-precision [[knn]] (8 bytes/dim here, 4 on disk) and PQ codes
    * ([[annPq]], bytes/VECTOR): per-vector symmetric int8 codes with the
    * same `max|x|/127` scale + round-half-up construction as the
    * [[quantize]] audit, queried ASYMMETRICALLY — the query vector stays
    * full precision and scores against reconstructed corpus vectors. The
    * per-vector scale cancels out of reconstructed cosine
    * (`⟨q, s·c⟩ / (‖q‖·‖s·c‖)` = `⟨q,c⟩ / (‖q‖·‖c‖)` for s > 0), so
    * ranking needs only the code arrays — the stored index is 1 byte/dim +
    * one float scale, 8× smaller than the raw corpus.
    *
    * Scale shape: a full scan like [[knn]] (SQ is the memory-bandwidth
    * path, not a pruning path — compose with IVF cells to prune), broadcast
    * queries, map-side scoring, one top-k window per query. At 100 TB the
    * scan reads the 8×-smaller code table, which is the entire point.
    */
  def annSq(spark: SparkSession, dir: String, nQueries: Int = 20, k: Int = 5): DataFrame =
    sharedAnnHits(spark, "sq", dir, s"$nQueries|$k") {
      val e = prepared(spark, dir)
      val sq = e
        .withColumn("max_abs",
          expr("aggregate(v, CAST(0.0 AS DOUBLE), (acc, x) -> greatest(acc, abs(x)))"))
        .withColumn("scale", col("max_abs") / 127.0)
        .select(col("vec_id"),
          // Spark `floor` yields BIGINT (DuckDB's yields DOUBLE) — cast so
          // the code array is array<double> for the native dot product
          expr("transform(v, x -> CAST(floor(x / scale + 0.5d) AS DOUBLE))").as("codes"))
      val q = broadcast(e.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")))
      val sims = sq.join(q, col("vec_id") =!= col("q_id"))
        .withColumn("cos_sq",
          round(dot(col("qv"), col("codes"))
            / (col("qn") * sqrt(dot(col("codes"), col("codes")))), 4))
      topHits(sims, "cos_sq", k)
    }
      .orderBy(col("q_id"), col("rank"))

  def annSqSql(nQueries: Int = 20, k: Int = 5): String =
    s"""WITH e AS ($preparedSql),
       |sq AS (
       |  SELECT vec_id,
       |    list_transform(v, x -> floor(x / (max_abs / 127.0) + 0.5)) AS codes
       |  FROM (SELECT vec_id, v,
       |          list_aggregate(list_transform(v, x -> abs(x)), 'max') AS max_abs
       |        FROM e)),
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e WHERE vec_id < $nQueries),
       |sims AS (
       |  SELECT q.q_id, sq.vec_id,
       |    round(list_dot_product(q.qv, sq.codes)
       |      / (q.qn * sqrt(list_dot_product(sq.codes, sq.codes))), 4) AS cos_sq
       |  FROM sq, q WHERE sq.vec_id <> q.q_id)
       |SELECT q_id, rank, vec_id AS neighbor_id, cos_sq FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (
       |    PARTITION BY q_id ORDER BY cos_sq DESC, vec_id) AS INT) AS rank
       |  FROM sims)
       |WHERE rank <= $k
       |ORDER BY q_id, rank""".stripMargin

  /** Deterministic ±1 projection matrix for [[annRp]] — MD5-parity signs,
    * no RNG (the oracle reproduces the identical matrix from the same
    * literals), the sparse-JL construction with every entry kept.
    */
  private[graft] def rpSigns(kDim: Int, d: Int): Seq[Seq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until kDim).map { j =>
      (0 until d).map { i =>
        val h = md.digest(s"rp:$j:$i".getBytes("UTF-8"))
        if ((h(0) & 1) == 0) 1.0 else -1.0
      }
    }
  }

  /** Signed-random-projection reduced-space search — the DIMENSION
    * compression tier of the ANN matrix, orthogonal to [[annSq]]'s
    * precision compression and IVF's candidate pruning: project every
    * vector through a fixed ±1 matrix (Johnson–Lindenstrauss; signs are
    * hash-derived so both engines hold the identical matrix with no RNG),
    * then rank by cosine in the `kDim`-dim space — `d/kDim`× fewer
    * multiplies per distance and `d/kDim`× smaller resident vectors.
    * Brute-force over the reduced corpus isolates pure projection loss
    * (the way [[annSq]] isolates quantization loss); `v_recall_rp` vs
    * `v_recall_sq` contrasts the two compression axes at equal k, and at
    * deployment scale the reduced table composes with IVF for pruning the
    * same way the SQ codes do.
    *
    * Scale shape: the projection is one row-local map (a kDim-row literal
    * matrix folded by the native dot expression — no shuffle, no UDF);
    * the scan is the memory-bandwidth path over vectors 4× smaller than
    * the corpus; queries broadcast; one top-k window per query.
    */
  /** The reduced relation both RP forms share: (vec_id, rv, rn). */
  private def rpReduced(spark: SparkSession, dir: String, kDim: Int,
                        d: Int): DataFrame = {
    val mt = typedLit(rpSigns(kDim, d))
    prepared(spark, dir)
      .withColumn("rv", transform(mt, row => dot(row, col("v"))))
      .withColumn("rn", sqrt(dot(col("rv"), col("rv"))))
      .filter(col("rn") > 0)
      .select(col("vec_id"), col("rv"), col("rn"))
  }

  private def rpReducedSql(kDim: Int, d: Int): String = {
    val mtLit = rpSigns(kDim, d)
      .map(_.map(s => if (s > 0) "1.0" else "-1.0").mkString("[", ", ", "]"))
      .mkString("[", ",\n    ", "]")
    s"""SELECT vec_id, rv, sqrt(list_dot_product(rv, rv)) AS rn
       |FROM (
       |  SELECT vec_id,
       |    list_transform($mtLit, r -> list_dot_product(r, v)) AS rv
       |  FROM ($preparedSql))
       |WHERE sqrt(list_dot_product(rv, rv)) > 0""".stripMargin
  }

  def annRp(spark: SparkSession, dir: String, nQueries: Int = 20, k: Int = 5,
            kDim: Int = 32, d: Int = 64): DataFrame =
    sharedAnnHits(spark, "rp", dir, s"$nQueries|$k|$kDim|$d") {
      val e = rpReduced(spark, dir, kDim, d)
      val q = broadcast(e.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("rv").as("qv"), col("rn").as("qn")))
      val sims = e.join(q, col("vec_id") =!= col("q_id"))
        .withColumn("cos_rp",
          round(dot(col("qv"), col("rv")) / (col("qn") * col("rn")), 4))
      topHits(sims, "cos_rp", k)
    }
      .orderBy(col("q_id"), col("rank"))

  def annRpSql(nQueries: Int = 20, k: Int = 5, kDim: Int = 32, d: Int = 64): String =
    s"""WITH e AS (${rpReducedSql(kDim, d)}),
       |q AS (SELECT vec_id AS q_id, rv AS qv, rn AS qn FROM e WHERE vec_id < $nQueries),
       |sims AS (
       |  SELECT q.q_id, e.vec_id,
       |    round(list_dot_product(q.qv, e.rv) / (q.qn * e.rn), 4) AS cos_rp
       |  FROM e, q WHERE e.vec_id <> q.q_id)
       |SELECT q_id, rank, vec_id AS neighbor_id, cos_rp FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (
       |    PARTITION BY q_id ORDER BY cos_rp DESC, vec_id) AS INT) AS rank
       |  FROM sims)
       |WHERE rank <= $k
       |ORDER BY q_id, rank""".stripMargin

  /** RP-prefilter + exact re-rank — the PRODUCTION form of the projection
    * tier (the `v_ann_ivfpq_rr` pattern on the dimension axis): generate
    * `cand` candidates per query by reduced-space cosine (cheap
    * distances), then re-rank ONLY those candidates with the
    * full-precision vectors. The reduced scan bounds the expensive exact
    * work to `|queries|·cand` pairs regardless of corpus size; `cand` is
    * a constant, so the pruned fraction improves as the corpus grows —
    * at sf0.001's 500 vectors cand=100 is 20% of the corpus, at 100 TB
    * it is nothing. `v_recall_rp_rr` vs `v_recall_rp` separates
    * candidate-coverage loss (all that remains after re-ranking) from
    * raw projection-ranking loss.
    */
  def annRpRr(spark: SparkSession, dir: String, nQueries: Int = 20, k: Int = 5,
              kDim: Int = 32, cand: Int = 100, d: Int = 64): DataFrame =
    sharedAnnHits(spark, "rprr", dir, s"$nQueries|$k|$kDim|$cand|$d") {
      val e = rpReduced(spark, dir, kDim, d)
      val q = broadcast(e.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("rv").as("qv"), col("rn").as("qn")))
      val candidates = Exprs.keepTop(e.join(q, col("vec_id") =!= col("q_id"))
          .withColumn("cos_rp",
            round(dot(col("qv"), col("rv")) / (col("qn") * col("rn")), 4)),
          Seq(col("q_id")), Seq(col("cos_rp").desc, col("vec_id")), cand, "crank")
        .select(col("q_id"), col("vec_id"))
      val full = prepared(spark, dir)
      val rr = candidates
        .join(full.select(col("vec_id"), col("v"), col("nrm")), "vec_id")
        .join(broadcast(full.filter(col("vec_id") < nQueries)
          .select(col("vec_id").as("q_id"), col("v").as("fqv"),
            col("nrm").as("fqn"))), "q_id")
        .withColumn("cos_sim",
          round(dot(col("fqv"), col("v")) / (col("fqn") * col("nrm")), 4))
      topHits(rr, "cos_sim", k)
    }
      .orderBy(col("q_id"), col("rank"))

  def annRpRrSql(nQueries: Int = 20, k: Int = 5, kDim: Int = 32,
                 cand: Int = 100, d: Int = 64): String =
    s"""WITH e AS (${rpReducedSql(kDim, d)}),
       |q AS (SELECT vec_id AS q_id, rv AS qv, rn AS qn FROM e WHERE vec_id < $nQueries),
       |cands AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q.q_id, e.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.q_id
       |        ORDER BY round(list_dot_product(q.qv, e.rv) / (q.qn * e.rn), 4) DESC,
       |                 e.vec_id) AS crank
       |    FROM e, q WHERE e.vec_id <> q.q_id)
       |  WHERE crank <= $cand),
       |full0 AS ($preparedSql),
       |fq AS (SELECT vec_id AS q_id, v AS fqv, nrm AS fqn
       |       FROM full0 WHERE vec_id < $nQueries),
       |rr AS (
       |  SELECT c.q_id, c.vec_id,
       |    round(list_dot_product(fq.fqv, f.v) / (fq.fqn * f.nrm), 4) AS cos_sim
       |  FROM cands c
       |  JOIN full0 f ON f.vec_id = c.vec_id
       |  JOIN fq ON fq.q_id = c.q_id)
       |SELECT q_id, rank, vec_id AS neighbor_id, cos_sim FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (
       |    PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS INT) AS rank
       |  FROM rr)
       |WHERE rank <= $k
       |ORDER BY q_id, rank""".stripMargin

  /** IVF + SQ8 composed search — [[annSq]]'s "compose with IVF cells to
    * prune" made concrete (the FAISS `IVF,SQ8` index shape, as
    * [[annIvfPq]] is `IVF,PQ`): candidates come from the query's `nProbe`
    * nearest inverted lists (the shared [[queryProbes]] machinery, so the
    * IVF half cannot drift from [[annIvfMulti]]'s), ranked by the same
    * asymmetric scale-cancelled reconstructed cosine as [[annSq]] —
    * full-precision query against int8 codes. The two approximation knobs
    * compose independently: probe restriction bounds WORK (fraction of
    * lists scanned), scalar quantization bounds MEMORY (1 byte/dim
    * scanned); `v_recall_ivfsq` vs `v_recall_sq` vs `v_recall` isolates
    * each tier's contribution to total recall loss.
    *
    * Scale shape: centroids broadcast, corpus codes shuffled once on
    * centroid_id (8× less payload than the IVF-float shuffle), probe
    * lists broadcast per query, per-query top-k window. Never all-pairs.
    */
  def annIvfSq(spark: SparkSession, dir: String, nQueries: Int = 20, kNn: Int = 5,
               kCentroids: Int = 16, nProbe: Int = 2): DataFrame =
    sharedAnnHits(spark, "ivfsq", dir, s"$nQueries|$kNn|$kCentroids|$nProbe") {
      val assigned = sharedIvfAssign(spark, dir, kCentroids)
      val e = prepared(spark, dir)
      val sq = e
        .withColumn("max_abs",
          expr("aggregate(v, CAST(0.0 AS DOUBLE), (acc, x) -> greatest(acc, abs(x)))"))
        .withColumn("scale", col("max_abs") / 127.0)
        .select(col("vec_id"),
          expr("transform(v, x -> CAST(floor(x / scale + 0.5d) AS DOUBLE))").as("codes"))
        .join(assigned, "vec_id")
      val qProbes = queryProbes(e, nQueries, kCentroids, nProbe)
      val sims = sq.join(broadcast(qProbes),
          col("centroid_id") === col("q_cent") && col("vec_id") =!= col("q_id"))
        .withColumn("cos_sq",
          round(dot(col("qv"), col("codes"))
            / (col("qn") * sqrt(dot(col("codes"), col("codes")))), 4))
      topHits(sims, "cos_sq", kNn)
    }
      .orderBy(col("q_id"), col("rank"))

  def annIvfSqSql(nQueries: Int = 20, kNn: Int = 5, kCentroids: Int = 16,
                  nProbe: Int = 2): String =
    s"""WITH e0 AS ($preparedSql),
       |c AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn FROM e0 WHERE vec_id < $kCentroids),
       |assign AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT e0.vec_id, c.centroid_id, ROW_NUMBER() OVER (
       |      PARTITION BY e0.vec_id
       |      ORDER BY list_dot_product(e0.v, c.cv) / (e0.nrm * c.cn) DESC, c.centroid_id) AS rn
       |    FROM e0, c)
       |  WHERE rn = 1),
       |sq AS (
       |  SELECT vec_id,
       |    list_transform(v, x -> floor(x / (max_abs / 127.0) + 0.5)) AS codes
       |  FROM (SELECT vec_id, v,
       |          list_aggregate(list_transform(v, x -> abs(x)), 'max') AS max_abs
       |        FROM e0)),
       |e AS (SELECT sq.*, assign.centroid_id FROM sq JOIN assign USING (vec_id)),
       |q AS (
       |  SELECT centroid_id AS q_cent, vec_id AS q_id, v AS qv, nrm AS qn FROM (
       |    SELECT e0.vec_id, e0.v, e0.nrm, c.centroid_id, ROW_NUMBER() OVER (
       |      PARTITION BY e0.vec_id
       |      ORDER BY list_dot_product(e0.v, c.cv) / (e0.nrm * c.cn) DESC, c.centroid_id) AS rn
       |    FROM e0, c WHERE e0.vec_id < $nQueries)
       |  WHERE rn <= $nProbe),
       |sims AS (
       |  SELECT q.q_id, e.vec_id,
       |    round(list_dot_product(q.qv, e.codes)
       |      / (q.qn * sqrt(list_dot_product(e.codes, e.codes))), 4) AS cos_sq
       |  FROM e JOIN q ON e.centroid_id = q.q_cent AND e.vec_id <> q.q_id)
       |SELECT q_id, rank, vec_id AS neighbor_id, cos_sq FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (
       |    PARTITION BY q_id ORDER BY cos_sq DESC, vec_id) AS INT) AS rank
       |  FROM sims)
       |WHERE rank <= $kNn
       |ORDER BY q_id, rank""".stripMargin

  /** Recall@k harness — the metric every ANN deployment gates on: for each
    * query, how many of the `exact` top-k (default [[knn]]) the approximate
    * search `approx` recovered. Every `v_recall_*` row grades its search
    * through this one harness and its DuckDB mirror [[recallSql]]. Both
    * sides have exact DuckDB mirrors, so recall itself is FULLY
    * differential — the oracle recomputes the exact search, the
    * approximate search, and their intersection, and must land on
    * identical per-query hit counts. Scale shape: both searches as
    * documented on their operators; the comparison is a narrow
    * (q_id, neighbor_id) join — negligible at any scale.
    */
  def recall(spark: SparkSession, dir: String, approx: DataFrame, nQueries: Int, k: Int,
             exact: (SparkSession, String, Int, Int) => DataFrame = sharedKnnExact): DataFrame =
    exact(spark, dir, nQueries, k).join(approx.select(col("q_id"), col("neighbor_id"))
        .withColumn("hit", lit(1)), Seq("q_id", "neighbor_id"), "left")
      .groupBy(col("q_id"))
      .agg(sum(coalesce(col("hit"), lit(0))).as("n_hits"))
      .select(col("q_id"), col("n_hits"),
        (col("n_hits") / lit(k.toDouble)).as("recall_at_k"))
      .orderBy(col("q_id"))

  /** DuckDB mirror of [[recall]]; `exactSql` mirrors its `exact` side. */
  def recallSql(approxSql: String, nQueries: Int, k: Int,
                exactSql: (Int, Int) => String = knnSql): String =
    s"""WITH exact AS (SELECT q_id, neighbor_id FROM (${exactSql(nQueries, k)})),
       |approx AS (SELECT q_id, neighbor_id FROM (
       |  $approxSql))
       |SELECT q_id, n_hits, n_hits / CAST($k AS DOUBLE) AS recall_at_k FROM (
       |  SELECT e.q_id,
       |    CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
       |  FROM exact e LEFT JOIN approx a
       |    ON e.q_id = a.q_id AND e.neighbor_id = a.neighbor_id
       |  GROUP BY e.q_id)
       |ORDER BY q_id""".stripMargin

  /** GRAPH-based ANN — the HNSW-family shape, completing the ANN strategy
    * coverage (inverted lists: IVF/PQ/SQ; hash buckets: sign-LSH;
    * proximity graph: this). Two layers, because the session kNN edge
    * relation is CELL-bounded and therefore disconnected across cells — a
    * single fixed entry point traps the beam in one cell (measured: 0.08
    * recall@5). The ROUTING layer is the seed-centroid clique (each seed
    * vector is a corpus node sitting in its own cell): a query scores all
    * `kCentroids` seeds row-locally and descends from its top-`nProbe`
    * into layer 0 — exactly HNSW's upper-layer descent, and the same
    * probe budget as the IVF rows it sits next to in the recall matrix.
    * Layer 0: `hops` rounds of expand-every-beam-member's-out-edges,
    * score candidates against the query (integer-quantized cosine —
    * order-free, cross-engine exact), keep the best `beam` per query;
    * then the final top-k of the visited set (the query's own node may
    * be traversed — its out-edges are the true neighbors — but never
    * reported).
    *
    * Scale shape: the per-round frontier is |queries|·beam rows joined
    * against the edge relation on src (broadcast frontier), candidate
    * scoring is a vec_id-keyed join against the corpus — per-round work
    * is |queries|·beam·kNn lookups however large the corpus, the property
    * that makes graph ANN the serving-latency winner over scanning whole
    * probed cells. `hops` and `beam` are compile-time-small (the oracle
    * unrolls them as CTE rounds, the [[kmeansTrainRoundedCtes]]
    * precedent); per-round materialization breaks the iterative lineage
    * exactly like [[graphRankCore]].
    */
  def annGraphBeam(spark: SparkSession, dir: String, nQueries: Int = 20,
                   k: Int = 5, beam: Int = 8, hops: Int = 3, kNn: Int = 5,
                   kCentroids: Int = 16, nProbe: Int = 2): DataFrame =
    // session-shared: the search result feeds its own query AND the
    // recall row (deterministic relation)
    graft.SharedRel(spark,
      s"anngraph|$dir|$nQueries|$k|$beam|$hops|$kNn|$kCentroids|$nProbe")(
      annGraphBeamBuild(spark, dir, nQueries, k, beam, hops, kNn,
        kCentroids, nProbe))

  private def annGraphBeamBuild(
      spark: SparkSession, dir: String, nQueries: Int,
      k: Int, beam: Int, hops: Int, kNn: Int,
      kCentroids: Int, nProbe: Int,
      filtered: Boolean = false): DataFrame = {
    val e = prepared(spark, dir)
    val queries = broadcast(e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("v").as("qv"), col("nrm").as("qn")))
    graphBeamWith(e, queries,
      sharedKnnEdges(spark, dir, kNn, kCentroids)
        .select(col("src"), col("dst")),
      e.filter(col("vec_id") < kCentroids)
        .select(col("vec_id"), col("label"), col("v"), col("nrm")),
      k, beam, hops, nProbe, filtered)
  }

  /** The beam core over an EXPLICIT serving graph — `edges` (src, dst)
    * plus the routing `seeds` (vec_id, label, v, nrm) — so the staleness
    * audit ([[graphCompact]]) can search the frozen-base + delta graph
    * with the exact machinery the live search uses.
    */
  private def graphBeamWith(e: DataFrame, queries: DataFrame,
                            edges: DataFrame, seeds: DataFrame,
                            k: Int, beam: Int, hops: Int, nProbe: Int,
                            filtered: Boolean): DataFrame = {
    val cInt = floor(dot(col("qv"), col("v")) / (col("qn") * col("nrm"))
      * 10000 + 0.5).cast("long")
    def best(df: DataFrame, bound: Int, rankCol: String): DataFrame =
      Exprs.keepTop(df, Seq(col("q_id")), Seq(col("c_int").desc, col("vec_id")), bound, rankCol)
    // routing layer: the seed nodes, top-nProbe per query
    var visited = Materialize(best(queries
      .crossJoin(broadcast(seeds
        .select(col("vec_id"), col("label"), col("v"), col("nrm"))))
      .select(col("q_id"), col("q_label"), col("vec_id"), col("label"),
        cInt.as("c_int")), nProbe, "__rn")
      .select(col("q_id"), col("q_label"), col("vec_id"), col("label"),
        col("c_int")))
    // harvest pool for the FILTERED search: traversal stays unfiltered
    // (pre-filtering the edge graph fragments it — the routing-layer
    // lesson all over again, and the ACORN finding), but every scored
    // candidate with the query's label is banked for the final top-k
    var pool = visited
    for (_ <- 1 to hops) {
      // the frontier and candidate-id relations are |queries|·beam(·kNn)
      // rows but sit behind checkpoint scans with no stats — broadcast
      // them EXPLICITLY or every round shuffles the edge/corpus relation
      // (measured: 5.1 s → 2.6 s at sf0.1 for the three rounds)
      // no .distinct() here: the top-beam groupBy dedups (q, vec) anyway,
      // and the extra shuffle costs more than re-scoring <=|frontier|·kNn
      // duplicate candidate rows
      val cand = edges
        .join(broadcast(visited.select(col("q_id"), col("vec_id").as("src"))),
          "src")
        .select(col("q_id"), col("dst").as("vec_id"))
      val scored = e.select(col("vec_id"), col("label"), col("v"), col("nrm"))
        .join(broadcast(cand), "vec_id")
        .join(queries, "q_id")
        .select(col("q_id"), col("q_label"), col("vec_id"), col("label"),
          cInt.as("c_int"))
      // re-scored revisits carry the identical quantized score — the
      // (q, vec) max-dedup is value-neutral
      visited = Materialize(best(visited.unionAll(scored)
        .groupBy(col("q_id"), col("q_label"), col("vec_id"), col("label"))
        .agg(max(col("c_int")).as("c_int")), beam, "__rn")
        .select(col("q_id"), col("q_label"), col("vec_id"), col("label"),
          col("c_int")))
      if (filtered) pool = pool.unionAll(scored)
    }
    val out = if (filtered) {
      Materialize(pool).filter(col("label") === col("q_label"))
        .groupBy(col("q_id"), col("vec_id")).agg(max(col("c_int")).as("c_int"))
    } else visited.select(col("q_id"), col("vec_id"), col("c_int"))
    best(out.filter(col("vec_id") =!= col("q_id")), k, "rank")
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"),
        (col("c_int") / 10000.0).as("cos_sim"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Predicate-filtered graph search — the graph tier's answer to
    * [[annIvfFiltered]], using the strategy the graph FORCES (the public
    * ACORN observation): pre-filtering the edge relation fragments an
    * already cell-bounded graph, so the beam TRAVERSES unfiltered — a
    * wrong-label node is still a stepping stone — while every scored
    * candidate matching the query's label is harvested into a side pool,
    * whose top-k is the answer. Costs the same traversal as
    * [[annGraphBeam]] plus a parameter-bounded pool fold.
    */
  def annGraphFiltered(spark: SparkSession, dir: String, nQueries: Int = 20,
                       k: Int = 5, beam: Int = 16, hops: Int = 3, kNn: Int = 5,
                       kCentroids: Int = 16, nProbe: Int = 4): DataFrame =
    graft.SharedRel(spark,
      s"anngraphf|$dir|$nQueries|$k|$beam|$hops|$kNn|$kCentroids|$nProbe")(
      annGraphBeamBuild(spark, dir, nQueries, k, beam, hops, kNn,
        kCentroids, nProbe, filtered = true))

  def annGraphBeamSql(nQueries: Int = 20, k: Int = 5, beam: Int = 8,
                      hops: Int = 3, kNn: Int = 5,
                      kCentroids: Int = 16, nProbe: Int = 2): String =
    graphBeamSqlCore(nQueries, k, beam, hops, kNn, kCentroids, nProbe,
      filtered = false)

  /** Filtered defaults widen the beam and the probe set (16/4 vs the
    * unfiltered 8/2) — the ACORN expansion factor: only the label-matching
    * fraction of traversed nodes is harvestable, so equal-recall filtered
    * search costs a wider frontier (measured: 0.37 → 0.52 recall@5,
    * matching the IVF pre-filter row).
    */
  def annGraphFilteredSql(nQueries: Int = 20, k: Int = 5, beam: Int = 16,
                          hops: Int = 3, kNn: Int = 5,
                          kCentroids: Int = 16, nProbe: Int = 4): String =
    graphBeamSqlCore(nQueries, k, beam, hops, kNn, kCentroids, nProbe,
      filtered = true)

  private def graphBeamSqlCore(nQueries: Int, k: Int, beam: Int,
                               hops: Int, kNn: Int, kCentroids: Int,
                               nProbe: Int, filtered: Boolean,
                               edgesCtes: String = "", seedsSql: String = ""): String = {
    val score = "CAST(floor(list_dot_product(q.qv, e0.v) / (q.qn * e0.nrm)" +
      " * 10000 + 0.5) AS BIGINT)"
    val rounds = (1 to hops).map { i =>
      val prev = s"v${i - 1}"
      s"""c$i AS (
         |  SELECT DISTINCT p.q_id, ed.dst AS vec_id
         |  FROM $prev p JOIN edges ed ON p.vec_id = ed.src),
         |s$i AS (
         |  SELECT c$i.q_id, q.q_label, c$i.vec_id, e0.label, $score AS c_int
         |  FROM c$i JOIN e0 ON c$i.vec_id = e0.vec_id
         |       JOIN q ON c$i.q_id = q.q_id),
         |v$i AS (
         |  SELECT q_id, q_label, vec_id, label, c_int FROM (
         |    SELECT q_id, q_label, vec_id, label, max(c_int) AS c_int,
         |      ROW_NUMBER() OVER (PARTITION BY q_id
         |        ORDER BY max(c_int) DESC, vec_id) AS rn
         |    FROM (SELECT * FROM $prev UNION ALL SELECT * FROM s$i)
         |    GROUP BY q_id, q_label, vec_id, label)
         |  WHERE rn <= $beam)""".stripMargin
    }.mkString(",\n")
    val finalRel =
      if (filtered)
        s"""(SELECT q_id, vec_id, max(c_int) AS c_int
           |   FROM (SELECT * FROM v0${(1 to hops).map(i => s" UNION ALL SELECT * FROM s$i").mkString}) pool
           |   WHERE label = q_label GROUP BY q_id, vec_id)""".stripMargin
      else s"v$hops"
    val edgeBlock = if (edgesCtes.nonEmpty) edgesCtes else
      s"""c AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn FROM e0 WHERE vec_id < $kCentroids),
         |assign AS (
         |  SELECT vec_id, centroid_id FROM (
         |    SELECT e0.vec_id, c.centroid_id, ROW_NUMBER() OVER (
         |      PARTITION BY e0.vec_id
         |      ORDER BY list_dot_product(e0.v, c.cv) / (e0.nrm * c.cn) DESC, c.centroid_id) AS rn
         |    FROM e0, c)
         |  WHERE rn = 1),
         |ec AS (SELECT e0.*, assign.centroid_id FROM e0 JOIN assign USING (vec_id)),
         |sims AS (
         |  SELECT a.vec_id AS src, b.vec_id AS dst,
         |    round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos_sim
         |  FROM ec a JOIN ec b ON a.centroid_id = b.centroid_id AND a.vec_id <> b.vec_id),
         |edges AS (
         |  SELECT src, dst FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY src ORDER BY cos_sim DESC, dst) AS rank
         |    FROM sims)
         |  WHERE rank <= $kNn)""".stripMargin
    val seedBlock = if (seedsSql.nonEmpty) seedsSql else
      s"SELECT vec_id, label, v, nrm FROM e0 WHERE vec_id < $kCentroids"
    s"""WITH e0 AS ($preparedSql),
       |$edgeBlock,
       |sd AS ($seedBlock),
       |q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv, nrm AS qn
       |      FROM e0 WHERE vec_id < $nQueries),
       |v0 AS (
       |  SELECT q_id, q_label, vec_id, label, c_int FROM (
       |    SELECT q.q_id, q.q_label, e0.vec_id, e0.label, $score AS c_int,
       |      ROW_NUMBER() OVER (
       |        PARTITION BY q.q_id ORDER BY $score DESC, e0.vec_id) AS rn
       |    FROM q, sd e0)
       |  WHERE rn <= $nProbe),
       |$rounds
       |SELECT q_id, rank, vec_id AS neighbor_id, c_int / 10000.0 AS cos_sim FROM (
       |  SELECT q_id, vec_id, c_int, CAST(ROW_NUMBER() OVER (
       |    PARTITION BY q_id ORDER BY c_int DESC, vec_id) AS INT) AS rank
       |  FROM $finalRel base WHERE vec_id <> q_id)
       |WHERE rank <= $k
       |ORDER BY q_id, rank""".stripMargin
  }

  /** Graph-serving recompaction audit — the third member of the
    * staleness trilogy (`v_compact_audit` for semantic dedup,
    * `d_bm25_compact` for retrieval, this for graph search): the SAME
    * beam runs over the LIVE rebuilt graph and over the STALE serving
    * graph an incremental deployment actually has after a day of
    * arrivals — frozen base-built edges (base vectors link only to base;
    * their lists predate the increment) plus [[knnGraphIncr]]'s delta
    * edges, routed from the frozen-base seeds. Delta vectors are
    * reachable only THROUGH delta out-edges on the stale graph, so every
    * exact neighbor that arrived with the increment is at risk — the
    * per-query recall gap is the staleness cost that tells a deployment
    * when the nightly graph rebuild stops being optional.
    */
  /** The stale serving graph, built ONCE per session ([[graft.SharedRel]]):
    * frozen base-built edges (base vectors link only to base, frozen-base
    * centroids) plus [[knnGraphIncr]]'s delta edges, each tagged and
    * carrying cos_sim. Shared between the staleness monitor
    * ([[graphCompact]]) and its repair action ([[graphMerge]]) — both run
    * in the same audit cycle, and unshared each rebuilt the full cell-
    * pair edge relation (r17 VERDICT prescription #7).
    */
  private def staleGraphEdges(spark: SparkSession, dir: String, kNn: Int,
                              kCentroids: Int, mod: Int): DataFrame =
    graft.SharedRel(spark, s"staleedges|$dir|$kNn|$kCentroids|$mod") {
      val e = prepared(spark, dir)
      val cents = frozenCentroids(e, kCentroids, mod)
      val centroidId = argmaxFold(typedLit(cents), c =>
        dot(col("v"), c.getField("_2")) / (col("nrm") * c.getField("_3")))
      val base = splitBase(e, mod).withColumn("centroid_id", centroidId)
      val ba = base.select(col("centroid_id"), col("vec_id").as("src"),
        col("v").as("va"), col("nrm").as("na"))
      val bb = base.select(col("centroid_id"), col("vec_id").as("dst"),
        col("v").as("vb"), col("nrm").as("nb"))
      val baseEdges = Exprs.keepTop(ba.join(bb, Seq("centroid_id"))
          .filter(col("src") =!= col("dst"))
          .withColumn("cos_sim",
            round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 4)),
          Seq(col("src")), Seq(col("cos_sim").desc, col("dst")), kNn, "rank")
        .select(col("src"), col("dst"), col("cos_sim"),
          lit(false).as("is_delta_edge"))
      val deltaEdges = knnGraphIncr(spark, dir, kNn, kCentroids, mod)
        .select(col("src"), col("dst"), col("cos_sim"),
          lit(true).as("is_delta_edge"))
      baseEdges.unionAll(deltaEdges)
    }

  /** The stale graph's beam hit set, session-shared for the same reason:
    * [[graphMerge]]'s three-way attribution re-ran the exact stale beam
    * [[graphCompact]] had already priced.
    */
  private def staleBeamHits(spark: SparkSession, dir: String, nQueries: Int,
                            k: Int, beam: Int, hops: Int, kNn: Int,
                            kCentroids: Int, mod: Int, nProbe: Int): DataFrame =
    graft.SharedRel(spark,
      s"stalehits|$dir|$nQueries|$k|$beam|$hops|$kNn|$kCentroids|$mod|$nProbe") {
      val e = prepared(spark, dir)
      val queries = broadcast(e.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("v").as("qv"), col("nrm").as("qn")))
      val cents = frozenCentroids(e, kCentroids, mod)
      val staleSeeds = e.filter(col("vec_id").isin(cents.map(_._1): _*))
        .select(col("vec_id"), col("label"), col("v"), col("nrm"))
      val staleEdges = staleGraphEdges(spark, dir, kNn, kCentroids, mod)
        .select(col("src"), col("dst"))
      graphBeamWith(e, queries, staleEdges, staleSeeds,
        k, beam, hops, nProbe, filtered = false)
        .select(col("q_id"), col("neighbor_id"))
    }

  def graphCompact(spark: SparkSession, dir: String, nQueries: Int = 20,
                   k: Int = 5, beam: Int = 8, hops: Int = 3, kNn: Int = 5,
                   kCentroids: Int = 16, mod: Int = 5, nProbe: Int = 2): DataFrame = {
    val stale = staleBeamHits(spark, dir, nQueries, k, beam, hops, kNn,
        kCentroids, mod, nProbe)
      .withColumn("hit_stale", lit(1))
    val full = annGraphBeam(spark, dir, nQueries, k, beam, hops, kNn,
        kCentroids, nProbe)
      .select(col("q_id"), col("neighbor_id")).withColumn("hit_full", lit(1))
    val exact = sharedKnnExact(spark, dir, nQueries, k)
    exact.join(full, Seq("q_id", "neighbor_id"), "left")
      .join(stale, Seq("q_id", "neighbor_id"), "left")
      .groupBy(col("q_id"))
      .agg(
        sum(coalesce(col("hit_full"), lit(0))).cast("long").as("n_hits_full"),
        sum(coalesce(col("hit_stale"), lit(0))).cast("long").as("n_hits_stale"))
      .select(col("q_id"), col("n_hits_full"), col("n_hits_stale"),
        (col("n_hits_full") / lit(k.toDouble)).as("recall_full"),
        (col("n_hits_stale") / lit(k.toDouble)).as("recall_stale"))
      .orderBy(col("q_id"))
  }

  def graphCompactSql(nQueries: Int = 20, k: Int = 5, beam: Int = 8,
                      hops: Int = 3, kNn: Int = 5, kCentroids: Int = 16,
                      mod: Int = 5, nProbe: Int = 2): String = {
    val staleEdgeCtes =
      s"""cfz AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM e0
         |        WHERE ${Exprs.arrivalSplitSql("vec_id", mod)} <> 0 ORDER BY vec_id LIMIT $kCentroids),
         |asg AS (
         |  SELECT vec_id, cid AS centroid_id FROM (
         |    SELECT e0.vec_id, c.cid, ROW_NUMBER() OVER (
         |      PARTITION BY e0.vec_id
         |      ORDER BY list_dot_product(e0.v, c.cv) / (e0.nrm * c.cn) DESC, c.cid) AS rn
         |    FROM e0, cfz c)
         |  WHERE rn = 1),
         |alls AS (
         |  SELECT e0.*, asg.centroid_id, (${Exprs.arrivalSplitSql("vec_id", mod)}) <> 0 AS is_base
         |  FROM e0 JOIN asg USING (vec_id)),
         |bedges AS (
         |  SELECT src, dst FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY src ORDER BY cos_sim DESC, dst) AS rank
         |    FROM (
         |      SELECT s.vec_id AS src, d.vec_id AS dst,
         |        round(list_dot_product(s.v, d.v) / (s.nrm * d.nrm), 4) AS cos_sim
         |      FROM alls s JOIN alls d
         |        ON s.centroid_id = d.centroid_id AND s.vec_id <> d.vec_id
         |      WHERE s.is_base AND d.is_base))
         |  WHERE rank <= $kNn),
         |dedges AS (
         |  SELECT src, dst FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY src ORDER BY cos_sim DESC, dst) AS rank
         |    FROM (
         |      SELECT s.vec_id AS src, d.vec_id AS dst,
         |        round(list_dot_product(s.v, d.v) / (s.nrm * d.nrm), 4) AS cos_sim
         |      FROM alls s JOIN alls d
         |        ON s.centroid_id = d.centroid_id AND s.vec_id <> d.vec_id
         |      WHERE NOT s.is_base))
         |  WHERE rank <= $kNn),
         |edges AS (SELECT * FROM bedges UNION ALL SELECT * FROM dedges)""".stripMargin
    val staleSeeds =
      s"""SELECT vec_id, label, v, nrm FROM e0
         |   WHERE ${Exprs.arrivalSplitSql("vec_id", mod)} <> 0 ORDER BY vec_id LIMIT $kCentroids""".stripMargin
    val staleSearch = graphBeamSqlCore(nQueries, k, beam, hops, kNn,
      kCentroids, nProbe, filtered = false,
      edgesCtes = staleEdgeCtes, seedsSql = staleSeeds)
    val fullSearch = graphBeamSqlCore(nQueries, k, beam, hops, kNn,
      kCentroids, nProbe, filtered = false)
    s"""WITH exact AS (SELECT q_id, neighbor_id FROM (${knnSql(nQueries, k)})),
       |fs AS (SELECT q_id, neighbor_id FROM (
       |  $fullSearch)),
       |ss AS (SELECT q_id, neighbor_id FROM (
       |  $staleSearch))
       |SELECT q_id, n_hits_full, n_hits_stale,
       |  n_hits_full / CAST($k AS DOUBLE) AS recall_full,
       |  n_hits_stale / CAST($k AS DOUBLE) AS recall_stale
       |FROM (
       |  SELECT e.q_id,
       |    CAST(sum(CASE WHEN f.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits_full,
       |    CAST(sum(CASE WHEN s.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits_stale
       |  FROM exact e
       |  LEFT JOIN fs f ON e.q_id = f.q_id AND e.neighbor_id = f.neighbor_id
       |  LEFT JOIN ss s ON e.q_id = s.q_id AND e.neighbor_id = s.neighbor_id
       |  GROUP BY e.q_id)
       |ORDER BY q_id""".stripMargin
  }

  /** Delta-edge graph recompaction — the ACTION that closes the
    * [[graphCompact]] staleness loop: instead of the nightly full rebuild
    * (re-scoring every cell pair), the serving deployment runs the
    * BOUNDED merge — [[knnGraphIncr]]'s delta out-edges are inserted into
    * the frozen base graph along with their REVERSES (each delta edge
    * delta→dst also proposes dst→delta into dst's list — the NN-descent
    * insertion step, and the only way base nodes learn the increment
    * exists), then every touched list is re-capped at `kNn` by cosine.
    * Merge cost is O(delta·kNn) edge insertions — base×base pairs are
    * NEVER re-scored, and the routing seeds stay the frozen-base layer —
    * vs the rebuild's full cell-pair scoring.
    *
    * The report prices the repair: the same beam runs over the LIVE
    * rebuilt graph, the STALE serving graph, and the MERGED graph, each
    * scored against exact top-k per query — recall_merged recovering to
    * within noise of recall_full at O(delta·kNn) cost is the claim.
    */
  def graphMerge(spark: SparkSession, dir: String, nQueries: Int = 20,
                 k: Int = 5, beam: Int = 8, hops: Int = 3, kNn: Int = 5,
                 kCentroids: Int = 16, mod: Int = 5, nProbe: Int = 2): DataFrame = {
    val e = prepared(spark, dir)
    val queries = broadcast(e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("v").as("qv"), col("nrm").as("qn")))
    val cents = frozenCentroids(e, kCentroids, mod)
    // the session-shared stale graph ([[staleGraphEdges]]) — the SAME
    // relation the compact audit prices, never rebuilt here
    val edges = staleGraphEdges(spark, dir, kNn, kCentroids, mod)
    val deltaEdges = edges.filter(col("is_delta_edge"))
      .select(col("src"), col("dst"), col("cos_sim"))
    // the reverse proposals: cosine is symmetric and both directions
    // round identically, so the reverse edge carries the same cos_sim
    val revEdges = deltaEdges.select(col("dst").as("src"),
      col("src").as("dst"), col("cos_sim"))
    val merged = Materialize(Exprs.keepTop(
        edges.select(col("src"), col("dst"), col("cos_sim"))
          .unionAll(revEdges)
          .groupBy(col("src"), col("dst")).agg(max(col("cos_sim")).as("cos_sim")),
        Seq(col("src")), Seq(col("cos_sim").desc, col("dst")), kNn, "rank")
      .select(col("src"), col("dst")))
    val staleSeeds = e.filter(col("vec_id").isin(cents.map(_._1): _*))
      .select(col("vec_id"), col("label"), col("v"), col("nrm"))
    val mergedHits = graphBeamWith(e, queries, merged, staleSeeds,
        k, beam, hops, nProbe, filtered = false)
      .select(col("q_id"), col("neighbor_id")).withColumn("hit_merged", lit(1))
    // the stale beam is the compact audit's session-shared relation —
    // the r17 double-run this action no longer pays
    val staleHits = staleBeamHits(spark, dir, nQueries, k, beam, hops, kNn,
        kCentroids, mod, nProbe)
      .withColumn("hit_stale", lit(1))
    val full = annGraphBeam(spark, dir, nQueries, k, beam, hops, kNn,
        kCentroids, nProbe)
      .select(col("q_id"), col("neighbor_id")).withColumn("hit_full", lit(1))
    val exact = sharedKnnExact(spark, dir, nQueries, k)
    exact.join(full, Seq("q_id", "neighbor_id"), "left")
      .join(staleHits, Seq("q_id", "neighbor_id"), "left")
      .join(mergedHits, Seq("q_id", "neighbor_id"), "left")
      .groupBy(col("q_id"))
      .agg(
        sum(coalesce(col("hit_full"), lit(0))).cast("long").as("n_hits_full"),
        sum(coalesce(col("hit_stale"), lit(0))).cast("long").as("n_hits_stale"),
        sum(coalesce(col("hit_merged"), lit(0))).cast("long").as("n_hits_merged"))
      .select(col("q_id"), col("n_hits_full"), col("n_hits_stale"),
        col("n_hits_merged"),
        (col("n_hits_full") / lit(k.toDouble)).as("recall_full"),
        (col("n_hits_stale") / lit(k.toDouble)).as("recall_stale"),
        (col("n_hits_merged") / lit(k.toDouble)).as("recall_merged"))
      .orderBy(col("q_id"))
  }

  def graphMergeSql(nQueries: Int = 20, k: Int = 5, beam: Int = 8,
                    hops: Int = 3, kNn: Int = 5, kCentroids: Int = 16,
                    mod: Int = 5, nProbe: Int = 2): String = {
    // base/delta edge CTEs WITH cos_sim (graphCompactSql's stale builds
    // keep only (src, dst) — the merge needs the scores to re-cap)
    val edgePrefix =
      s"""cfz AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM e0
         |        WHERE ${Exprs.arrivalSplitSql("vec_id", mod)} <> 0 ORDER BY vec_id LIMIT $kCentroids),
         |asg AS (
         |  SELECT vec_id, cid AS centroid_id FROM (
         |    SELECT e0.vec_id, c.cid, ROW_NUMBER() OVER (
         |      PARTITION BY e0.vec_id
         |      ORDER BY list_dot_product(e0.v, c.cv) / (e0.nrm * c.cn) DESC, c.cid) AS rn
         |    FROM e0, cfz c)
         |  WHERE rn = 1),
         |alls AS (
         |  SELECT e0.*, asg.centroid_id, (${Exprs.arrivalSplitSql("vec_id", mod)}) <> 0 AS is_base
         |  FROM e0 JOIN asg USING (vec_id)),
         |bedges AS (
         |  SELECT src, dst, cos_sim FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY src ORDER BY cos_sim DESC, dst) AS rank
         |    FROM (
         |      SELECT s.vec_id AS src, d.vec_id AS dst,
         |        round(list_dot_product(s.v, d.v) / (s.nrm * d.nrm), 4) AS cos_sim
         |      FROM alls s JOIN alls d
         |        ON s.centroid_id = d.centroid_id AND s.vec_id <> d.vec_id
         |      WHERE s.is_base AND d.is_base))
         |  WHERE rank <= $kNn),
         |dedges AS (
         |  SELECT src, dst, cos_sim FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY src ORDER BY cos_sim DESC, dst) AS rank
         |    FROM (
         |      SELECT s.vec_id AS src, d.vec_id AS dst,
         |        round(list_dot_product(s.v, d.v) / (s.nrm * d.nrm), 4) AS cos_sim
         |      FROM alls s JOIN alls d
         |        ON s.centroid_id = d.centroid_id AND s.vec_id <> d.vec_id
         |      WHERE NOT s.is_base))
         |  WHERE rank <= $kNn)""".stripMargin
    val mergedEdgeCtes =
      s"""$edgePrefix,
         |edges AS (
         |  SELECT src, dst FROM (
         |    SELECT src, dst, ROW_NUMBER() OVER (
         |      PARTITION BY src ORDER BY cos_sim DESC, dst) AS rank
         |    FROM (
         |      SELECT src, dst, max(cos_sim) AS cos_sim FROM (
         |        SELECT src, dst, cos_sim FROM bedges
         |        UNION ALL SELECT src, dst, cos_sim FROM dedges
         |        UNION ALL SELECT dst AS src, src AS dst, cos_sim FROM dedges)
         |      GROUP BY src, dst))
         |  WHERE rank <= $kNn)""".stripMargin
    val staleEdgeCtes =
      s"""$edgePrefix,
         |edges AS (SELECT src, dst FROM bedges
         |          UNION ALL SELECT src, dst FROM dedges)""".stripMargin
    val staleSeeds =
      s"""SELECT vec_id, label, v, nrm FROM e0
         |   WHERE ${Exprs.arrivalSplitSql("vec_id", mod)} <> 0 ORDER BY vec_id LIMIT $kCentroids""".stripMargin
    val mergedSearch = graphBeamSqlCore(nQueries, k, beam, hops, kNn,
      kCentroids, nProbe, filtered = false,
      edgesCtes = mergedEdgeCtes, seedsSql = staleSeeds)
    val staleSearch = graphBeamSqlCore(nQueries, k, beam, hops, kNn,
      kCentroids, nProbe, filtered = false,
      edgesCtes = staleEdgeCtes, seedsSql = staleSeeds)
    val fullSearch = graphBeamSqlCore(nQueries, k, beam, hops, kNn,
      kCentroids, nProbe, filtered = false)
    s"""WITH exact AS (SELECT q_id, neighbor_id FROM (${knnSql(nQueries, k)})),
       |fs AS (SELECT q_id, neighbor_id FROM (
       |  $fullSearch)),
       |ss AS (SELECT q_id, neighbor_id FROM (
       |  $staleSearch)),
       |ms AS (SELECT q_id, neighbor_id FROM (
       |  $mergedSearch))
       |SELECT q_id, n_hits_full, n_hits_stale, n_hits_merged,
       |  n_hits_full / CAST($k AS DOUBLE) AS recall_full,
       |  n_hits_stale / CAST($k AS DOUBLE) AS recall_stale,
       |  n_hits_merged / CAST($k AS DOUBLE) AS recall_merged
       |FROM (
       |  SELECT e.q_id,
       |    CAST(sum(CASE WHEN f.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits_full,
       |    CAST(sum(CASE WHEN s.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits_stale,
       |    CAST(sum(CASE WHEN m.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits_merged
       |  FROM exact e
       |  LEFT JOIN fs f ON e.q_id = f.q_id AND e.neighbor_id = f.neighbor_id
       |  LEFT JOIN ss s ON e.q_id = s.q_id AND e.neighbor_id = s.neighbor_id
       |  LEFT JOIN ms m ON e.q_id = m.q_id AND e.neighbor_id = m.neighbor_id
       |  GROUP BY e.q_id)
       |ORDER BY q_id""".stripMargin
  }

  /** IVF+PQ combined — the full architecture production ANN systems run:
    * the IVF half restricts candidates to the query's `nProbe` nearest
    * centroids' inverted lists ([[annIvfMulti]]'s probe mechanism), and the
    * PQ half ranks those candidates by asymmetric distance over their
    * `blocks` codes ([[annPq]]'s ADC mechanism) — embeddings are never
    * touched at search time, only codes. Scale shape: centroids + LUT +
    * probe map broadcast; candidates bounded by list sizes (never
    * all-pairs); ONE scan of the (narrow) code table; per-query top-k
    * window.
    */
  def annIvfPq(spark: SparkSession, dir: String, nQueries: Int = 20, kNn: Int = 5,
               kCentroids: Int = 16, nProbe: Int = 2, blocks: Int = 4,
               k: Int = 16): DataFrame =
    sharedAnnHits(spark, "ivfpq", dir,
      s"$nQueries|$kNn|$kCentroids|$nProbe|$blocks|$k") {
      val e = prepared(spark, dir)
      val assigned = sharedIvfAssign(spark, dir, kCentroids)
      // IVF half: shared probe-list builder; PQ half: shared ADC LUT
      val qProbes = queryProbes(e, nQueries, kCentroids, nProbe)
        .select(col("q_id"), col("q_cent"))
      val lut = broadcast(adcLut(e, nQueries, blocks, k))
      // candidates: code rows of vectors living in a probed inverted list
      val cand = sharedPqCodes(spark, dir, blocks, k)
        .withColumn("code", col("code").cast("long"))
        .join(assigned, "vec_id")
        .join(broadcast(qProbes), col("centroid_id") === col("q_cent"))
        .filter(col("vec_id") =!= col("q_id"))
      val scored = cand.join(lut, Seq("q_id", "block", "code"))
        .groupBy(col("q_id"), col("vec_id"))
        .agg(
          first(when(col("block") === 0, col("s")), ignoreNulls = true).as("s0"),
          (1 until blocks).map(b =>
            first(when(col("block") === b, col("s")), ignoreNulls = true).as(s"s$b")): _*)
        .withColumn("adc_score",
          round((0 until blocks).map(b => col(s"s$b")).reduce(_ + _), 4))
      topHits(scored, "adc_score", kNn)
    }
      .orderBy(col("q_id"), col("rank"))

  def annIvfPqSql(nQueries: Int = 20, kNn: Int = 5, kCentroids: Int = 16,
                  nProbe: Int = 2, blocks: Int = 4, k: Int = 16): String = {
    val sub = 64 / blocks
    val sumExpr = (0 until blocks).map(b => s"s$b").mkString(" + ")
    val pivotCols = (0 until blocks)
      .map(b => s"max(CASE WHEN codes.block = $b THEN s END) AS s$b").mkString(",\n    ")
    s"""WITH e0 AS ($preparedSql),
       |c AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn FROM e0 WHERE vec_id < $kCentroids),
       |assign AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT e0.vec_id, c.centroid_id, ROW_NUMBER() OVER (
       |      PARTITION BY e0.vec_id
       |      ORDER BY list_dot_product(e0.v, c.cv) / (e0.nrm * c.cn) DESC, c.centroid_id) AS rn
       |    FROM e0, c)
       |  WHERE rn = 1),
       |qprobes AS (
       |  SELECT vec_id AS q_id, centroid_id AS q_cent FROM (
       |    SELECT e0.vec_id, c.centroid_id, ROW_NUMBER() OVER (
       |      PARTITION BY e0.vec_id
       |      ORDER BY list_dot_product(e0.v, c.cv) / (e0.nrm * c.cn) DESC, c.centroid_id) AS rn
       |    FROM e0, c WHERE e0.vec_id < $nQueries)
       |  WHERE rn <= $nProbe),
       |b AS (SELECT unnest(range(0, $blocks)) AS block),
       |sv AS (
       |  SELECT vec_id, block, v[block * $sub + 1 : block * $sub + $sub] AS sv
       |  FROM e0, b),
       |cw AS (SELECT vec_id AS cid, block, sv AS cv FROM sv WHERE vec_id < $k),
       |codes AS (
       |  SELECT vec_id, block, cid AS code FROM (
       |    SELECT sv.vec_id, sv.block, cw.cid, ROW_NUMBER() OVER (
       |      PARTITION BY sv.vec_id, sv.block
       |      ORDER BY list_dot_product(sv.sv, cw.cv) - 0.5 * list_dot_product(cw.cv, cw.cv) DESC,
       |               cw.cid) AS rn
       |    FROM sv JOIN cw USING (block))
       |  WHERE rn = 1),
       |lut AS (
       |  SELECT q.vec_id AS q_id, q.block, cw.cid AS code,
       |    list_dot_product(q.sv, cw.cv) AS s
       |  FROM sv q JOIN cw USING (block)
       |  WHERE q.vec_id < $nQueries),
       |pivoted AS (
       |  SELECT lut.q_id, codes.vec_id,
       |    $pivotCols
       |  FROM codes
       |  JOIN assign ON codes.vec_id = assign.vec_id
       |  JOIN qprobes ON assign.centroid_id = qprobes.q_cent
       |  JOIN lut ON codes.block = lut.block AND codes.code = lut.code
       |    AND lut.q_id = qprobes.q_id
       |  WHERE codes.vec_id <> qprobes.q_id
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT q_id, vec_id, round($sumExpr, 4) AS adc_score FROM pivoted)
       |SELECT q_id, rank, vec_id AS neighbor_id, adc_score FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (
       |    PARTITION BY q_id ORDER BY adc_score DESC, vec_id) AS INT) AS rank
       |  FROM scored)
       |WHERE rank <= $kNn
       |ORDER BY q_id, rank""".stripMargin
  }

  /** Two-stage IVF+PQ with exact re-ranking — the standard retrieval
    * refinement (FAISS refine / `IndexRefineFlat`): ADC is cheap but
    * lossy, so stage 1 over-fetches a shortlist of `kNn × mult` candidates
    * by ADC score ([[annIvfPq]] verbatim, same probe count), and stage 2
    * re-ranks ONLY the shortlist by exact cosine over the real embeddings,
    * keeping `kNn`. Quantization error then only costs recall when the
    * true neighbor misses the whole shortlist, not when ADC merely
    * misorders it — the `v_recall_ivfpq_rr` row grades the uplift at
    * equal `nProbe`.
    *
    * Scale shape: stage 1 as [[annIvfPq]] (codes only); the shortlist is
    * `nQueries × kNn × mult` rows, BROADCAST into one join against the
    * embedding table — so full vectors are fetched for shortlist members
    * only, never scanned into a shuffle. Query vectors broadcast as in
    * [[knn]]. One per-query top-k window over ≤ `kNn × mult` rows.
    */
  def annIvfPqRr(spark: SparkSession, dir: String, nQueries: Int = 20, kNn: Int = 5,
                 kCentroids: Int = 16, nProbe: Int = 2, blocks: Int = 4,
                 k: Int = 16, mult: Int = 4): DataFrame =
    sharedAnnHits(spark, "ivfpqrr", dir,
      s"$nQueries|$kNn|$kCentroids|$nProbe|$blocks|$k|$mult") {
      require(mult >= 1, s"shortlist multiplier must be >= 1, got $mult")
      val short = annIvfPq(spark, dir, nQueries, kNn * mult, kCentroids, nProbe, blocks, k)
        .select(col("q_id"), col("neighbor_id"))
      val e = prepared(spark, dir)
      val qs = broadcast(e.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")))
      val scored = e
        .select(col("vec_id").as("neighbor_id"), col("v"), col("nrm"))
        .join(broadcast(short), "neighbor_id")
        .join(qs, "q_id")
        .withColumn("cos_sim", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
      Exprs.keepTop(scored, Seq(col("q_id")), Seq(col("cos_sim").desc, col("neighbor_id")),
          kNn, "rank")
        .select(col("q_id"), col("rank"), col("neighbor_id"),
          round(col("cos_sim"), 4).as("cos_sim"))
    }
      .orderBy(col("q_id"), col("rank"))

  def annIvfPqRrSql(nQueries: Int = 20, kNn: Int = 5, kCentroids: Int = 16,
                    nProbe: Int = 2, blocks: Int = 4, k: Int = 16,
                    mult: Int = 4): String =
    s"""WITH e AS ($preparedSql),
       |short AS (SELECT q_id, neighbor_id FROM (
       |  ${annIvfPqSql(nQueries, kNn * mult, kCentroids, nProbe, blocks, k)})),
       |rescored AS (
       |  SELECT s.q_id, s.neighbor_id,
       |    list_dot_product(q.v, n.v) / (q.nrm * n.nrm) AS cs
       |  FROM short s
       |  JOIN e q ON q.vec_id = s.q_id
       |  JOIN e n ON n.vec_id = s.neighbor_id)
       |SELECT q_id, rank, neighbor_id, round(cs, 4) AS cos_sim FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (
       |    PARTITION BY q_id ORDER BY cs DESC, neighbor_id) AS INT) AS rank
       |  FROM rescored)
       |WHERE rank <= $kNn
       |ORDER BY q_id, rank""".stripMargin

  /** Residual IVF+PQ — the refinement every production IVF+PQ system ships
    * (FAISS `IndexIVFPQ` default): PQ codes quantize the RESIDUAL
    * `r = x − centroid(x)` instead of the raw vector. Residuals are
    * centered near zero with far smaller spread than raw vectors, so the
    * same code budget wastes no resolution re-encoding the coarse cell —
    * the inner product decomposes exactly as
    * `⟨q, x⟩ = ⟨q, c⟩ + ⟨q, r⟩ ≈ ⟨q, c⟩ + Σ_b ⟨q_b, codeword(code_b)⟩`,
    * with the first term exact (tiny query × centroid table) and only the
    * residual quantized. Same probe restriction and ADC plan shape as
    * [[annIvfPq]]; the recall delta against it is pure residual-encoding
    * gain, measured by the `v_recall_ivfpq_res` row.
    *
    * Measured caveat (recorded, not hidden): on the synthetic embeddings
    * residual recall@5 is 0.25 vs 0.30 plain — the corpus is CLUSTER-FREE
    * random vectors, so the coarse centroids are near-orthogonal to their
    * members and centering EXPANDS spread (mean residual norm 1.21 vs raw
    * 1.00). Residual PQ's gain is conditional on real cluster structure
    * (where ‖x−c‖ ≪ ‖x‖); the operator carries the architecture, the
    * harness measures what the data actually gives.
    *
    * Scale shape: identical to [[annIvfPq]] — centroids, LUT, base table
    * and probe map broadcast; ONE scan of the narrow code table; per-query
    * top-k window. The residual materialization adds one broadcast join on
    * the corpus scan (row-local subtraction, fused into codegen).
    */
  def annIvfPqRes(spark: SparkSession, dir: String, nQueries: Int = 20, kNn: Int = 5,
                  kCentroids: Int = 16, nProbe: Int = 2, blocks: Int = 4,
                  k: Int = 16): DataFrame =
    sharedAnnHits(spark, "ivfpqres", dir,
      s"$nQueries|$kNn|$kCentroids|$nProbe|$blocks|$k") {
      val e = prepared(spark, dir)
      val cents = e.filter(col("vec_id") < kCentroids)
        .select(col("vec_id").as("centroid_id"), col("v").as("cv"))
      val assigned = sharedIvfAssign(spark, dir, kCentroids)
      // residuals: row-local subtraction after a broadcast centroid join
      val resid = Materialize(e.select(col("vec_id"), col("v"))
        .join(assigned, "vec_id")
        .join(broadcast(cents), "centroid_id")
        .select(col("vec_id"), col("centroid_id"),
          zip_with(col("v"), col("cv"), (a, b) => a - b).as("r")))
      val corpusSub = pqSubVectors(resid.select(col("vec_id"), col("r").as("v")),
        "vec_id", blocks)
      // residual codebook: residuals of the first k NON-CENTROID vectors
      // (deterministic, oracle-checkable; a trained codebook swaps in without
      // a plan change). The first kCentroids vectors must be excluded: each
      // IS its own nearest centroid, so its residual is the zero vector — a
      // codebook of them would be degenerate (measured: recall@5 collapsed
      // 0.30 → 0.13 before this exclusion)
      val cw = broadcast(
        pqSubVectors(resid
            .filter(col("vec_id") >= kCentroids && col("vec_id") < kCentroids + k)
            .select(col("vec_id"), col("r").as("v")),
          "cid", blocks)
          .select(col("cid"), col("block"), col("sv").as("cv")))
      val codes = nearestCodeword(corpusSub.join(cw, "block"), "rn")
        .select(col("vec_id"), col("block"), col("cid").cast("long").as("code"))
      // query side: raw query sub-vectors × residual codewords, plus the
      // exact ⟨q, centroid⟩ base term per probed cell
      val qs = pqSubVectors(e.filter(col("vec_id") < nQueries), "q_id", blocks)
      val lut = broadcast(qs.join(cw, "block")
        .select(col("q_id"), col("block"), col("cid").cast("long").as("code"),
          dot(col("sv"), col("cv")).as("s")))
      val base = broadcast(e.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
        // nQueries × k rows; broadcast the CENTROID side explicitly so the
        // cross product is plan-stable (BroadcastNestedLoop) without AQE
        .crossJoin(broadcast(cents))
        .select(col("q_id"), col("centroid_id"), dot(col("qv"), col("cv")).as("sbase")))
      val qProbes = queryProbes(e, nQueries, kCentroids, nProbe)
        .select(col("q_id"), col("q_cent"))
      val cand = codes
        .join(assigned, "vec_id")
        .join(broadcast(qProbes), col("centroid_id") === col("q_cent"))
        .filter(col("vec_id") =!= col("q_id"))
      val scored = cand.join(lut, Seq("q_id", "block", "code"))
        .groupBy(col("q_id"), col("vec_id"), col("centroid_id"))
        .agg(
          first(when(col("block") === 0, col("s")), ignoreNulls = true).as("s0"),
          (1 until blocks).map(b =>
            first(when(col("block") === b, col("s")), ignoreNulls = true).as(s"s$b")): _*)
        .join(base, Seq("q_id", "centroid_id"))
        // FIXED summation order (base, then blocks) — mirrored in the oracle
        .withColumn("adc_score",
          round((0 until blocks).map(b => col(s"s$b"))
            .foldLeft(col("sbase"))(_ + _), 4))
      topHits(scored, "adc_score", kNn)
    }
      .orderBy(col("q_id"), col("rank"))

  def annIvfPqResSql(nQueries: Int = 20, kNn: Int = 5, kCentroids: Int = 16,
                     nProbe: Int = 2, blocks: Int = 4, k: Int = 16): String = {
    val sub = 64 / blocks
    val sumExpr = "sbase + " + (0 until blocks).map(b => s"s$b").mkString(" + ")
    val pivotCols = (0 until blocks)
      .map(b => s"max(CASE WHEN codes.block = $b THEN s END) AS s$b").mkString(",\n    ")
    s"""WITH e0 AS ($preparedSql),
       |c AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn FROM e0 WHERE vec_id < $kCentroids),
       |assign AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT e0.vec_id, c.centroid_id, ROW_NUMBER() OVER (
       |      PARTITION BY e0.vec_id
       |      ORDER BY list_dot_product(e0.v, c.cv) / (e0.nrm * c.cn) DESC, c.centroid_id) AS rn
       |    FROM e0, c)
       |  WHERE rn = 1),
       |qprobes AS (
       |  SELECT vec_id AS q_id, centroid_id AS q_cent FROM (
       |    SELECT e0.vec_id, c.centroid_id, ROW_NUMBER() OVER (
       |      PARTITION BY e0.vec_id
       |      ORDER BY list_dot_product(e0.v, c.cv) / (e0.nrm * c.cn) DESC, c.centroid_id) AS rn
       |    FROM e0, c WHERE e0.vec_id < $nQueries)
       |  WHERE rn <= $nProbe),
       |b AS (SELECT unnest(range(0, $blocks)) AS block),
       |resid AS (
       |  SELECT e0.vec_id, assign.centroid_id,
       |    list_transform(range(1, len(e0.v) + 1), i -> e0.v[i] - c.cv[i]) AS r
       |  FROM e0 JOIN assign USING (vec_id) JOIN c USING (centroid_id)),
       |rsv AS (
       |  SELECT vec_id, block, r[block * $sub + 1 : block * $sub + $sub] AS sv
       |  FROM resid, b),
       |rcw AS (SELECT vec_id AS cid, block, sv AS cv FROM rsv
       |        WHERE vec_id >= $kCentroids AND vec_id < $kCentroids + $k),
       |codes AS (
       |  SELECT vec_id, block, cid AS code FROM (
       |    SELECT rsv.vec_id, rsv.block, rcw.cid, ROW_NUMBER() OVER (
       |      PARTITION BY rsv.vec_id, rsv.block
       |      ORDER BY list_dot_product(rsv.sv, rcw.cv) - 0.5 * list_dot_product(rcw.cv, rcw.cv) DESC,
       |               rcw.cid) AS rn
       |    FROM rsv JOIN rcw USING (block))
       |  WHERE rn = 1),
       |qsv AS (
       |  SELECT vec_id, block, v[block * $sub + 1 : block * $sub + $sub] AS sv
       |  FROM e0, b WHERE vec_id < $nQueries),
       |lut AS (
       |  SELECT qsv.vec_id AS q_id, qsv.block, rcw.cid AS code,
       |    list_dot_product(qsv.sv, rcw.cv) AS s
       |  FROM qsv JOIN rcw USING (block)),
       |base AS (
       |  SELECT e0.vec_id AS q_id, c.centroid_id, list_dot_product(e0.v, c.cv) AS sbase
       |  FROM e0, c WHERE e0.vec_id < $nQueries),
       |pivoted AS (
       |  SELECT lut.q_id, codes.vec_id, assign.centroid_id,
       |    $pivotCols
       |  FROM codes
       |  JOIN assign ON codes.vec_id = assign.vec_id
       |  JOIN qprobes ON assign.centroid_id = qprobes.q_cent
       |  JOIN lut ON codes.block = lut.block AND codes.code = lut.code
       |    AND lut.q_id = qprobes.q_id
       |  WHERE codes.vec_id <> qprobes.q_id
       |  GROUP BY 1, 2, 3),
       |scored AS (
       |  SELECT pivoted.q_id, pivoted.vec_id, round($sumExpr, 4) AS adc_score
       |  FROM pivoted JOIN base ON pivoted.q_id = base.q_id
       |    AND pivoted.centroid_id = base.centroid_id)
       |SELECT q_id, rank, vec_id AS neighbor_id, adc_score FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (
       |    PARTITION BY q_id ORDER BY adc_score DESC, vec_id) AS INT) AS rank
       |  FROM scored)
       |WHERE rank <= $kNn
       |ORDER BY q_id, rank""".stripMargin
  }

  // ---- incremental index maintenance (new vectors vs a frozen index) ----

  /** Base/delta split — the stand-in for "the corpus as of the last index
    * build" vs "embeddings that arrived since": the salted
    * [[graft.Exprs.arrivalSplit]] on vec_id (its delta approximates the
    * corpus's source distribution, spec-asserted in OperatorsSpec).
    * Residue 0 = delta → 1/mod of the corpus (mod=5 → 20%).
    */
  private def splitBase(e: DataFrame, mod: Int): DataFrame =
    e.filter(Exprs.arrivalSplit(col("vec_id"), mod) =!= 0)
  private def splitDelta(e: DataFrame, mod: Int): DataFrame =
    e.filter(Exprs.arrivalSplit(col("vec_id"), mod) === 0)

  /** The frozen index structure: the `kCentroids` smallest-id BASE vectors
    * as (id, vector, norm) driver state — k×dim doubles, the same bounded
    * driver-traffic contract as [[kmeansTrainRounded]] (whose trained
    * centroids swap in without a plan change, exactly like the other
    * `*With` operators).
    */
  private def frozenCentroids(e: DataFrame, kCentroids: Int,
                              mod: Int): Seq[(Long, Seq[Double], Double)] = {
    val rows = splitBase(e, mod).orderBy(col("vec_id")).limit(kCentroids)
      .select(col("vec_id"), col("v"), col("nrm")).collect()
    require(rows.length == kCentroids,
      s"base split has only ${rows.length} vectors < kCentroids=$kCentroids")
    rows.toSeq.map(r => (r.getLong(0), r.getSeq[Double](1).toSeq, r.getDouble(2)))
  }

  /** Row-local argmax over a literal candidate array: fold keeps the FIRST
    * strict maximum, which in ascending-id literal order is exactly the
    * (score desc, id asc) tie-break every assignment window in this file
    * uses — but as a pure projection: no join, no window, NO SHUFFLE.
    */
  private def argmaxFold(cands: Column, score: Column => Column): Column =
    aggregate(cands,
      struct(lit(-1L).as("id"), lit(Double.NegativeInfinity).as("sc")),
      (acc, c) => {
        val s = score(c)
        when(s > acc.getField("sc"),
          struct(c.getField("_1").as("id"), s.as("sc"))).otherwise(acc)
      }).getField("id")

  /** Incremental IVF+PQ maintenance — the operation a 100 TB deployment
    * runs DAILY while full retraining stays monthly: NEW embeddings (the
    * delta split) are assigned to the EXISTING trained structure — nearest
    * frozen centroid + per-block PQ codes against the frozen codebook —
    * and appended to the index. The text tier's `d_dedup_incr` analog for
    * vectors.
    *
    * Scale shape: centroids and codewords ship as literals (k×dim driver
    * state), so the whole operator is ONE projection over the delta scan —
    * zero shuffle, zero join, no window; the base corpus is never read.
    * Asserted in PlanAuditSpec: the executed plan's only exchange is the
    * output ordering's.
    */
  def ivfIncr(spark: SparkSession, dir: String, kCentroids: Int = 16,
              blocks: Int = 4, mod: Int = 5): DataFrame = {
    val dim = 64 // embeddings table width (TESTDATA.md)
    require(dim % blocks == 0, s"dim $dim not divisible by $blocks blocks")
    val sub = dim / blocks
    val e = prepared(spark, dir)
    val cents = frozenCentroids(e, kCentroids, mod)
    val centLit = typedLit(cents)
    // per-block codeword literals: (cid, sub-vector, 0.5·‖cw‖²) with the
    // half-norm precomputed LEFT-TO-RIGHT at the driver — the same
    // accumulation order list_dot_product uses, so scores stay bit-equal
    def cwLit(b: Int) = typedLit(cents.map { case (cid, v, _) =>
      val cw = v.slice(b * sub, (b + 1) * sub)
      (cid, cw, 0.5 * cw.foldLeft(0.0)((acc, x) => acc + x * x))
    })
    val centroidId = argmaxFold(centLit, c =>
      dot(col("v"), c.getField("_2")) / (col("nrm") * c.getField("_3")))
    val codeCols = (0 until blocks).map { b =>
      argmaxFold(cwLit(b), c =>
        dot(slice(col("v"), b * sub + 1, sub), c.getField("_2")) - c.getField("_3"))
    }
    splitDelta(e, mod)
      .withColumn("centroid_id", centroidId)
      .select(col("vec_id"), col("centroid_id"),
        posexplode(array(codeCols: _*)).as(Seq("block", "code")))
      .orderBy(col("vec_id"), col("block"))
  }

  def ivfIncrSql(kCentroids: Int = 16, blocks: Int = 4, mod: Int = 5): String = {
    val sub = 64 / blocks
    s"""WITH e0 AS ($preparedSql),
       |delta AS (SELECT * FROM e0 WHERE ${Exprs.arrivalSplitSql("vec_id", mod)} = 0),
       |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM e0
       |      WHERE ${Exprs.arrivalSplitSql("vec_id", mod)} <> 0 ORDER BY vec_id LIMIT $kCentroids),
       |assign AS (
       |  SELECT vec_id, cid AS centroid_id FROM (
       |    SELECT d.vec_id, c.cid, ROW_NUMBER() OVER (
       |      PARTITION BY d.vec_id
       |      ORDER BY list_dot_product(d.v, c.cv) / (d.nrm * c.cn) DESC, c.cid) AS rn
       |    FROM delta d, c) WHERE rn = 1),
       |b AS (SELECT unnest(range(0, $blocks)) AS block),
       |dsv AS (SELECT vec_id, block, v[block * $sub + 1 : block * $sub + $sub] AS sv
       |        FROM delta, b),
       |cw AS (SELECT cid, block, cv[block * $sub + 1 : block * $sub + $sub] AS cwv
       |       FROM c, b),
       |codes AS (
       |  SELECT vec_id, block, cid AS code FROM (
       |    SELECT dsv.vec_id, dsv.block, cw.cid, ROW_NUMBER() OVER (
       |      PARTITION BY dsv.vec_id, dsv.block
       |      ORDER BY list_dot_product(dsv.sv, cw.cwv)
       |               - 0.5 * list_dot_product(cw.cwv, cw.cwv) DESC, cw.cid) AS rn
       |    FROM dsv JOIN cw USING (block)) WHERE rn = 1)
       |SELECT a.vec_id, a.centroid_id, CAST(codes.block AS INT) AS block, codes.code
       |FROM assign a JOIN codes ON a.vec_id = codes.vec_id
       |ORDER BY a.vec_id, block""".stripMargin
  }

  /** IVF search over the incrementally-maintained index: base vectors keep
    * their frozen-centroid assignment, delta vectors carry the
    * [[ivfIncr]]-style fold assignment — both halves are the same
    * shuffle-free projection, unioned into one assignment relation, then
    * searched exactly like [[annIvfMulti]] (probes from the frozen
    * centroids, candidates bounded by probed lists, per-query top-k).
    */
  private[graft] def annIvfIncrSearch(spark: SparkSession, dir: String, nQueries: Int,
                                      kNn: Int, kCentroids: Int, nProbe: Int,
                                      mod: Int): DataFrame = {
    val e = prepared(spark, dir)
    val cents = frozenCentroids(e, kCentroids, mod)
    val centLit = typedLit(cents)
    val centroidId = argmaxFold(centLit, c =>
      dot(col("v"), c.getField("_2")) / (col("nrm") * c.getField("_3")))
    def foldAssign(df: DataFrame): DataFrame =
      df.select(col("vec_id"), centroidId.as("centroid_id"))
    val assigned = foldAssign(splitBase(e, mod)).union(foldAssign(splitDelta(e, mod)))
    import spark.implicits._
    val centDf = broadcast(cents.toDF("centroid_id", "cv", "cn"))
    val qProbes = Exprs.keepTop(e.filter(col("vec_id") < nQueries).join(centDf),
        Seq(col("vec_id")), nearestCentroid, nProbe, "__rn")
      .select(col("centroid_id").as("q_cent"), col("vec_id").as("q_id"),
        col("v").as("qv"), col("nrm").as("qn"))
    val sims = e.join(assigned, "vec_id")
      .join(broadcast(qProbes),
        col("centroid_id") === col("q_cent") && col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim", round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4))
    topHits(sims, "cos_sim", kNn)
      .orderBy(col("q_id"), col("rank"))
  }

  private[graft] def annIvfIncrSearchSql(nQueries: Int, kNn: Int, kCentroids: Int,
                                         nProbe: Int, mod: Int): String =
    s"""WITH e0 AS ($preparedSql),
       |c AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn FROM e0
       |      WHERE ${Exprs.arrivalSplitSql("vec_id", mod)} <> 0 ORDER BY vec_id LIMIT $kCentroids),
       |assign AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT e0.vec_id, c.centroid_id, ROW_NUMBER() OVER (
       |      PARTITION BY e0.vec_id
       |      ORDER BY list_dot_product(e0.v, c.cv) / (e0.nrm * c.cn) DESC, c.centroid_id) AS rn
       |    FROM e0, c)
       |  WHERE rn = 1),
       |e AS (SELECT e0.*, assign.centroid_id FROM e0 JOIN assign USING (vec_id)),
       |q AS (
       |  SELECT centroid_id AS q_cent, vec_id AS q_id, v AS qv, nrm AS qn FROM (
       |    SELECT e0.vec_id, e0.v, e0.nrm, c.centroid_id, ROW_NUMBER() OVER (
       |      PARTITION BY e0.vec_id
       |      ORDER BY list_dot_product(e0.v, c.cv) / (e0.nrm * c.cn) DESC, c.centroid_id) AS rn
       |    FROM e0, c WHERE e0.vec_id < $nQueries)
       |  WHERE rn <= $nProbe),
       |sims AS (
       |  SELECT q.q_id, e.vec_id,
       |    round(list_dot_product(q.qv, e.v) / (q.qn * e.nrm), 4) AS cos_sim
       |  FROM e JOIN q ON e.centroid_id = q.q_cent AND e.vec_id <> q.q_id)
       |SELECT q_id, rank, vec_id AS neighbor_id, cos_sim FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (
       |    PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS INT) AS rank
       |  FROM sims)
       |WHERE rank <= $kNn
       |ORDER BY q_id, rank""".stripMargin
}
