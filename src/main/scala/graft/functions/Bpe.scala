package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Exprs

/** BPE tokenizer training over the corpus vocabulary — the "train the
  * tokenizer" step of an LLM data pipeline (the reference pipelines ship
  * text to a pretrained tokenizer; a data ENGINE also has to build one).
  *
  * BPE trains on the word-frequency table, not the raw corpus: the corpus
  * collapses to (word, freq) with one map-side-combined agg, and every
  * merge round runs over |vocab| rows — at 100 TB the vocabulary is
  * millions of rows where the corpus is billions, so the iteration cost is
  * decoupled from corpus size (the same collapse every production BPE
  * trainer does).
  *
  * [[bpePairs]] is one countable step (DuckDB-oracle-checked as
  * `d_bpe_pairs`); [[train]] iterates it with the merge applied as a pure
  * array fold — no UDFs, no driver-side data beyond the 1-row argmax per
  * round (the k-means-step pattern).
  */
object Bpe {

  /** Character-array expression over a string column `w` — indexed
    * substrings, NOT an empty-pattern regex split (engines disagree on
    * trailing empties for `split(w, '')`). Guarded for the empty word:
    * Spark's `sequence(1, 0)` DESCENDS and would fabricate a 2-element
    * array of empty strings (and from it a phantom pair the DuckDB oracle —
    * whose `range(1, 0)` is empty — would never see).
    */
  private val charsExpr: String =
    """CASE WHEN length(w) >= 1
      |  THEN transform(sequence(1, length(w)), i -> substr(w, i, 1))
      |  ELSE cast(array() as array<string>) END""".stripMargin

  /** (word, freq) vocabulary with each word exploded to its symbol array —
    * initially single characters.
    */
  private def vocab(spark: SparkSession, dir: String): DataFrame =
    TextOps.prepared(spark, dir)
      .select(explode(col("words")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .withColumn("syms", expr(charsExpr))

  /** Adjacent-symbol pair counts weighted by word frequency — the argmax is
    * the next BPE merge. Pairs are taken INSIDE each word's symbol array (a
    * row-local transform, zero shuffle before the final pair agg); output
    * is a stable top-k (weight desc, pair asc — total order, reproducible
    * anywhere).
    */
  def bpePairs(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    bpePairsFrom(vocab(spark, dir)).orderBy(col("weight").desc, col("pair")).limit(k)

  private def bpePairsFrom(v: DataFrame): DataFrame =
    // guard: Spark's sequence(0, -1) DESCENDS for a 1-symbol word — emit no
    // pairs instead (DuckDB's range(1, 1) is already empty)
    v.select(col("freq"),
        explode(expr(
          """CASE WHEN size(syms) >= 2
            |  THEN transform(sequence(0, size(syms) - 2),
            |                 i -> concat(syms[i], ' ', syms[i+1]))
            |  ELSE cast(array() as array<string>) END""".stripMargin))
          .as("pair"))
      .groupBy("pair")
      // n_occurrences counts pair POSITIONS over the vocabulary ("aaa"
      // contributes two "a a" rows), matching classic BPE get_stats — it is
      // NOT the number of distinct words containing the pair
      .agg(sum(col("freq")).as("weight"), count(lit(1)).as("n_occurrences"))

  def bpePairsSql(k: Int = 20): String =
    s"""WITH v AS (
       |  SELECT w, count(*) AS freq FROM (
       |    SELECT unnest(words) AS w FROM (${TextOps.preparedSql}))
       |  GROUP BY w),
       |pairs AS (
       |  SELECT freq, w[i] || ' ' || w[i+1] AS pair
       |  FROM v, unnest(range(1, length(w))) AS u(i))
       |SELECT pair, CAST(sum(freq) AS BIGINT) AS weight, count(*) AS n_occurrences
       |FROM pairs GROUP BY pair
       |ORDER BY weight DESC, pair LIMIT $k""".stripMargin

  /** One merge application: every adjacent (a, b) occurrence in each symbol
    * array becomes the fused symbol — a left fold over the array (pure
    * higher-order expression, row-local, codegen-friendly). Overlapping
    * occurrences fuse left-to-right, exactly like the reference BPE
    * algorithm's linear scan.
    */
  private def applyMerge(v: DataFrame, a: String, b: String): DataFrame = {
    def q(s: String) = s.replace("\\", "\\\\").replace("'", "\\'")
    v.withColumn("syms", expr(
      s"""aggregate(syms, cast(array() as array<string>), (acc, x) ->
         |  CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '${q(a)}' AND x = '${q(b)}'
         |       THEN concat(slice(acc, 1, size(acc) - 1), array('${q(a)}${q(b)}'))
         |       ELSE concat(acc, array(x)) END)""".stripMargin))
  }

  /** Tokenize: apply an ordered merge table to a relation with a string
    * column `w` — the APPLY side of the trained tokenizer. Merges fold in
    * training order (BPE's contract) — zero shuffle, corpus-parallel, no
    * UDF, and production-vocab-sized: the merge table ships as ONE
    * array-of-structs literal and folds with a doubly-nested `aggregate()`
    * (outer loop over merges, inner fuse-scan over symbols), so the
    * expression tree is CONSTANT-depth regardless of merge count — a 30k
    * merge tokenizer is the same two-level plan as a 3-merge one, applied
    * in a single pass with no mid-apply materialization.
    *
    * Per-merge guard: the inner fuse-scan (which allocates arrays) only
    * runs when BOTH symbols are present in the current array
    * (`array_contains` — O(len), allocation-free); for a real vocabulary
    * almost all of the 30k merges are absent from any given word, so the
    * common case per merge is two flat scans. At corpus scale, apply this
    * over `select(distinct w)` and join back — BPE is a pure word
    * function, so the work is |vocab|, not |corpus|.
    */
  def segmentWords(df: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val mt = typedLit(merges.map { case (a, b) => (a, b, a + b) })
    df.withColumn("graft_mt", mt)
      .withColumn("syms", expr(
        s"""aggregate(graft_mt, $charsExpr, (acc, mg) ->
           |  CASE WHEN array_contains(acc, mg._1) AND array_contains(acc, mg._2)
           |    THEN aggregate(acc, cast(array() as array<string>), (a2, x) ->
           |      CASE WHEN size(a2) > 0 AND element_at(a2, -1) = mg._1 AND x = mg._2
           |           THEN concat(slice(a2, 1, size(a2) - 1), array(mg._3))
           |           ELSE concat(a2, array(x)) END)
           |    ELSE acc END)""".stripMargin))
      .drop("graft_mt")
  }

  /** Reference apply path: one nested `aggregate()` level PER merge, folded
    * in checkpointed batches of `batchSize` (each batch is one projection;
    * a local checkpoint truncates plan/codegen between batches). Semantically identical
    * to [[segmentWords]] by construction — the spec asserts it at 1000+
    * merges — but costs one materialization per batch, so the flat
    * single-pass [[segmentWords]] is the production path; this stays as
    * the independent implementation the identity test checks against.
    */
  private[graft] def segmentWordsNested(df: DataFrame, merges: Seq[(String, String)],
                                        batchSize: Int = 200): DataFrame = {
    require(batchSize >= 1 && batchSize <= 200,
      s"batchSize $batchSize outside [1, 200]: each merge nests one aggregate() " +
      "level in the projection, and >200 levels risks codegen/stack limits")
    val init = df.withColumn("syms", expr(charsExpr))
    merges.grouped(batchSize).foldLeft(init) { (d, batch) =>
      graft.Materialize(batch.foldLeft(d) { case (acc, (a, b)) => applyMerge(acc, a, b) })
    }
  }

  /** Trained merge table, rank order — the product of the sequential BPE
    * objective (argmax by weight desc, pair asc — [[bpePairs]]' total
    * order) over the sf0.01 documents vocabulary, 48 rounds. Embedded as a
    * literal so the Spark apply ([[segmentCorpus]]) and its DuckDB oracle
    * fold the SAME table over any sfDir; provenance is asserted in
    * OperatorsSpec by re-running [[train]] and comparing a prefix. The
    * table is genuinely multi-level (e.g. `custo`+`mer` consumes merge 6's
    * `mer`), so the apply fold's merge-order dependence is exercised.
    */
  val trainedMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"), ("a", "s"), ("as", "h"), ("h", "ash"),
    ("r", "ow"), ("at", "c"), ("atc", "h"), ("b", "atch"), ("a", "n"),
    ("c", "an"), ("s", "can"), ("c", "o"), ("c", "u"), ("co", "lu"),
    ("colu", "m"), ("colum", "n"), ("cu", "st"), ("cust", "o"),
    ("custo", "mer"), ("f", "i"), ("fi", "l"), ("fil", "t"),
    ("filt", "er"), ("a", "l"), ("al", "l"), ("m", "all"), ("s", "mall"),
    ("g", "e"), ("l", "ow"), ("mer", "ge"), ("s", "low"), ("c", "t"),
    ("ct", "or"), ("d", "er"), ("e", "ctor"), ("or", "der"),
    ("v", "ector"))

  /** The tokenizer APPLY side as an oracle-checked query: fold
    * [[trainedMerges]] over the DISTINCT corpus words (BPE is a pure word
    * function — |vocab| work, not |corpus|, the 100 TB contract documented
    * on [[segmentWords]]) and emit the full segmentation. This is the
    * production constant-depth apply path facing the DuckDB oracle, not a
    * spec fixture.
    */
  def segmentCorpus(spark: SparkSession, dir: String,
                    merges: Seq[(String, String)] = trainedMerges): DataFrame =
    segmentWords(
      TextOps.prepared(spark, dir).select(explode(col("words")).as("w")).distinct(),
      merges)
      .select(col("w"), size(col("syms")).as("n_tokens"),
        array_join(col("syms"), "|").as("segmentation"))
      .orderBy(col("w"))

  /** DuckDB mirror of [[segmentCorpus]] — an INDEPENDENT implementation of
    * the same greedy fold: each token rides in its own ` token ` wrapper,
    * so one merge application is a single boundary-safe non-overlapping
    * `replace(' a  b ' → ' ab ')` (wrapped cells never share characters,
    * which is exactly what makes left-to-right replace = the greedy fuse
    * scan), iterated over the merge table by a recursive CTE. Differential
    * by construction against the nested-`aggregate()` Spark fold.
    */
  def segmentCorpusSql(merges: Seq[(String, String)] = trainedMerges): String = {
    def q(s: String) = s.replace("'", "''")
    // `VALUES` with zero rows is a syntax error, while the Spark twin
    // segmentWords handles an empty merge table (the property-tested
    // no-merge case) — mirror that with an explicit zero-row literal so
    // both sides agree on the degenerate input.
    val mergesRel =
      if (merges.isEmpty)
        "SELECT 0 AS rank, '' AS pat, '' AS rep WHERE false"
      else
        "VALUES\n  " + merges.zipWithIndex.map { case ((a, b), i) =>
          s"(${i + 1}, ' ${q(a)}  ${q(b)} ', ' ${q(a)}${q(b)} ')"
        }.mkString(",\n  ")
    s"""WITH RECURSIVE
       |words(w) AS (SELECT DISTINCT unnest(words) FROM (${TextOps.preparedSql})),
       |merges(rank, pat, rep) AS ($mergesRel),
       |seg AS (
       |  SELECT w, regexp_replace(w, '(.)', ' \\1 ', 'g') AS s, 0 AS i FROM words
       |  UNION ALL
       |  SELECT seg.w, replace(seg.s, m.pat, m.rep), seg.i + 1
       |  FROM seg JOIN merges m ON m.rank = seg.i + 1)
       |SELECT w,
       |  CAST((length(s) - length(replace(s, ' ', ''))) / 2 AS INT) AS n_tokens,
       |  replace(trim(s), '  ', '|') AS segmentation
       |FROM seg WHERE i = ${merges.size} ORDER BY w""".stripMargin
  }

  /** Tokenizer fertility — THE standard tokenizer-eval metric (mean tokens
    * per word, weighted by corpus frequency), per source: a data team
    * tracks it to catch domains the tokenizer fragments badly. Composes
    * the apply tier: [[segmentCorpus]] runs once over DISTINCT words
    * (|vocab| fold work) and joins back to the per-source frequency table
    * — the corpus itself is never folded, the same |vocab|-not-|corpus|
    * contract as the apply.
    */
  def fertility(spark: SparkSession, dir: String,
                merges: Seq[(String, String)] = trainedMerges): DataFrame = {
    val freq = TextOps.prepared(spark, dir)
      .select(col("source"), explode(col("words")).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("freq"))
    val toks = segmentCorpus(spark, dir, merges).select(col("w"), col("n_tokens"))
    freq.join(toks, "w")
      .groupBy("source")
      .agg(sum(col("freq")).as("n_words"),
        sum(col("freq") * col("n_tokens")).as("n_tokens_total"))
      .withColumn("fertility",
        round(col("n_tokens_total") / col("n_words").cast("double"), 4))
      .orderBy("source")
  }

  def fertilitySql(merges: Seq[(String, String)] = trainedMerges): String =
    s"""WITH freq AS (
       |  SELECT source, w, count(*) AS freq FROM (
       |    SELECT source, unnest(words) AS w FROM (${TextOps.preparedSql}))
       |  GROUP BY source, w),
       |toks AS (SELECT w, n_tokens FROM (${segmentCorpusSql(merges)}))
       |SELECT source,
       |  CAST(sum(freq) AS BIGINT) AS n_words,
       |  CAST(sum(freq * n_tokens) AS BIGINT) AS n_tokens_total,
       |  round(sum(freq * n_tokens) / CAST(sum(freq) AS DOUBLE), 4) AS fertility
       |FROM freq JOIN toks USING (w)
       |GROUP BY source ORDER BY source""".stripMargin

  /** Tokenizer coverage per source — the OOV-rate twin of [[fertility]]:
    * a word the merge table leaves FULLY FRAGMENTED (one token per
    * character — no merge ever fired inside it) is the BPE analog of
    * out-of-vocabulary, and a source with a high fragmented share is one
    * the tokenizer was not trained for. Composes the same |vocab|-bound
    * apply fold + frequency join-back as fertility; row-local CASE on the
    * segmentation length vs the word's character count.
    */
  def coverage(spark: SparkSession, dir: String,
               merges: Seq[(String, String)] = trainedMerges): DataFrame = {
    val freq = TextOps.prepared(spark, dir)
      .select(col("source"), explode(col("words")).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("freq"))
    val toks = segmentCorpus(spark, dir, merges).select(col("w"), col("n_tokens"))
    freq.join(toks, "w")
      .groupBy("source")
      .agg(sum(col("freq")).as("n_words"),
        sum(when(col("n_tokens") === length(col("w")), col("freq"))
          .otherwise(0L)).as("n_fragmented"))
      .withColumn("coverage",
        round(lit(1.0) - col("n_fragmented") / col("n_words").cast("double"), 4))
      .orderBy("source")
  }

  def coverageSql(merges: Seq[(String, String)] = trainedMerges): String =
    s"""WITH freq AS (
       |  SELECT source, w, count(*) AS freq FROM (
       |    SELECT source, unnest(words) AS w FROM (${TextOps.preparedSql}))
       |  GROUP BY source, w),
       |toks AS (SELECT w, n_tokens FROM (${segmentCorpusSql(merges)}))
       |SELECT source,
       |  CAST(sum(freq) AS BIGINT) AS n_words,
       |  CAST(sum(CASE WHEN n_tokens = length(w) THEN freq ELSE 0 END) AS BIGINT)
       |    AS n_fragmented,
       |  round(1.0 - sum(CASE WHEN n_tokens = length(w) THEN freq ELSE 0 END)
       |    / CAST(sum(freq) AS DOUBLE), 4) AS coverage
       |FROM freq JOIN toks USING (w)
       |GROUP BY source ORDER BY source""".stripMargin

  /** Per-source tokenizer-drift monitor — the tokenizer member of the
    * arrival-monitor family (embedding drift / n-gram novelty / dup rate /
    * quality drift / this): per source, the fully-fragmented word-
    * occurrence permille (a word the merge table cannot compress at all,
    * `n_tokens == length(w)` — the [[coverage]] criterion) among BASE vs
    * DELTA documents over the shared salted split, plus the signed drift.
    * A source whose delta fragmentation climbs is shifting vocabulary out
    * from under the frozen tokenizer — the signal that triggers a re-train
    * before fertility regresses in production.
    *
    * Parity: counts + integer permille only (the monitor-family rule).
    * Scale shape: the segmentation relation is |distinct words| (never the
    * corpus), the frequency agg is map-side combined, the monitor itself
    * is one |sources|-key agg.
    */
  def bpeDrift(spark: SparkSession, dir: String,
               merges: Seq[(String, String)] = trainedMerges,
               deltaMod: Int = 5): DataFrame = {
    val freq = TextOps.prepared(spark, dir)
      .select(col("source"), (Exprs.arrivalSplit(col("doc_id"), deltaMod) === 0).as("is_delta"),
        explode(col("words")).as("w"))
      .groupBy("source", "is_delta", "w").agg(count(lit(1)).as("freq"))
    val toks = segmentCorpus(spark, dir, merges).select(col("w"), col("n_tokens"))
    freq.join(toks, "w")
      .withColumn("frag", col("n_tokens") === length(col("w")))
      .groupBy("source").agg(
        sum(when(!col("is_delta"), col("freq")).otherwise(0L)).as("n_base"),
        sum(when(col("is_delta"), col("freq")).otherwise(0L)).as("n_delta"),
        sum(when(!col("is_delta") && col("frag"), col("freq")).otherwise(0L)).as("frag_base"),
        sum(when(col("is_delta") && col("frag"), col("freq")).otherwise(0L)).as("frag_delta"))
      .withColumn("frag_pm_base",
        when(col("n_base") > 0, expr("frag_base * 1000L div n_base")).otherwise(-1L))
      .withColumn("frag_pm_delta",
        when(col("n_delta") > 0, expr("frag_delta * 1000L div n_delta")).otherwise(-1L))
      .withColumn("drift_pm",
        when(col("n_base") > 0 && col("n_delta") > 0,
          col("frag_pm_delta") - col("frag_pm_base")).otherwise(lit(null).cast("long")))
      .select("source", "n_base", "n_delta", "frag_base", "frag_delta",
        "frag_pm_base", "frag_pm_delta", "drift_pm")
      .orderBy("source")
  }

  def bpeDriftSql(merges: Seq[(String, String)] = trainedMerges,
                  deltaMod: Int = 5): String =
    s"""WITH freq AS (
       |  SELECT source, is_delta, w, count(*) AS freq FROM (
       |    SELECT source, (${Exprs.arrivalSplitSql("doc_id", deltaMod)}) = 0 AS is_delta,
       |           unnest(words) AS w
       |    FROM (${TextOps.preparedSql}))
       |  GROUP BY source, is_delta, w),
       |toks AS (SELECT w, n_tokens FROM (${segmentCorpusSql(merges)})),
       |j AS (
       |  SELECT source, is_delta, freq, n_tokens = length(w) AS frag
       |  FROM freq JOIN toks USING (w)),
       |agg AS (
       |  SELECT source,
       |    CAST(sum(CASE WHEN NOT is_delta THEN freq ELSE 0 END) AS BIGINT) AS n_base,
       |    CAST(sum(CASE WHEN is_delta THEN freq ELSE 0 END) AS BIGINT) AS n_delta,
       |    CAST(sum(CASE WHEN NOT is_delta AND frag THEN freq ELSE 0 END) AS BIGINT) AS frag_base,
       |    CAST(sum(CASE WHEN is_delta AND frag THEN freq ELSE 0 END) AS BIGINT) AS frag_delta
       |  FROM j GROUP BY source)
       |SELECT source, n_base, n_delta, frag_base, frag_delta,
       |  CASE WHEN n_base > 0 THEN frag_base * 1000 // n_base ELSE -1 END AS frag_pm_base,
       |  CASE WHEN n_delta > 0 THEN frag_delta * 1000 // n_delta ELSE -1 END AS frag_pm_delta,
       |  CASE WHEN n_base > 0 AND n_delta > 0
       |       THEN (frag_delta * 1000 // n_delta) - (frag_base * 1000 // n_base)
       |       ELSE NULL END AS drift_pm
       |FROM agg ORDER BY source""".stripMargin

  /** Vocabulary-extension retrain — the ACTION the [[bpeDrift]] monitor's
    * climbing fragmentation feeds: a deployment does not retrain a 30k
    * tokenizer from scratch per increment, it CONTINUES training on the
    * increment — the frozen merge table is folded over the DELTA
    * vocabulary first, then `nExtra` further merges are trained by the
    * same sequential argmax (weight desc, pair asc) over the delta's
    * frequency-weighted symbol relation. The report prices the extension
    * per source with the monitor family's integer contract: delta word
    * occurrences, fertility permille (tokens per word ×1000) and
    * fully-fragmented permille under the FROZEN vs EXTENDED table —
    * fragmentation recovered at the cost of `nExtra` new vocab entries.
    *
    * Scale shape: everything is |delta vocab|-bounded — the frozen fold
    * is [[segmentWords]]' constant-depth pass over distinct delta words,
    * each extension round is one map-side-combined pair agg plus a 1-row
    * argmax to the driver (the [[train]] loop contract), and the report
    * joins token counts back to the per-source frequency table, never
    * re-folding the corpus. Oracle: the extension unrolls to one
    * (pairs, argmax, apply) CTE triple per round — the
    * `kmeansTrainRounded` precedent — so DuckDB recomputes the SAME
    * extension merges and the drift report stays fully differential.
    */
  def bpeExtend(spark: SparkSession, dir: String,
                merges: Seq[(String, String)] = trainedMerges,
                nExtra: Int = 3, deltaMod: Int = 5): DataFrame = {
    val freqSrc = TextOps.prepared(spark, dir)
      .filter(Exprs.arrivalSplit(col("doc_id"), deltaMod) === 0)
      .select(col("source"), explode(col("words")).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("freq"))
    val freqW = freqSrc.groupBy("w").agg(sum(col("freq")).as("freq"))
    val seg0 = segmentWords(freqW, merges).cache()
    val frozenToks = seg0.select(col("w"), size(col("syms")).as("ntok_frozen"))
    var v = seg0
    var r = 0
    var exhausted = false
    while (r < nExtra && !exhausted) {
      val top = bpePairsFrom(v)
        .orderBy(col("weight").desc, col("pair")).limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val Array(a, b) = top(0).getString(0).split(" ", 2)
        val next = applyMerge(v, a, b).cache()
        next.count()
        if (v ne seg0) v.unpersist()
        v = next
        r += 1
      }
    }
    val extToks = v.select(col("w"), size(col("syms")).as("ntok_ext"))
    val out = freqSrc.join(frozenToks, "w").join(extToks, "w")
      .groupBy(col("source")).agg(
        sum(col("freq")).as("n_words"),
        sum(col("freq") * col("ntok_frozen")).as("t_frozen"),
        sum(col("freq") * col("ntok_ext")).as("t_ext"),
        sum(when(col("ntok_frozen") === length(col("w")), col("freq"))
          .otherwise(0L)).as("frag_frozen"),
        sum(when(col("ntok_ext") === length(col("w")), col("freq"))
          .otherwise(0L)).as("frag_ext"))
      .select(col("source"), col("n_words"),
        expr("t_frozen * 1000L div n_words").as("fert_pm_frozen"),
        expr("t_ext * 1000L div n_words").as("fert_pm_ext"),
        expr("frag_frozen * 1000L div n_words").as("frag_pm_frozen"),
        expr("frag_ext * 1000L div n_words").as("frag_pm_ext"))
      .orderBy(col("source"))
    seg0.unpersist()
    if (v ne seg0) v.unpersist()
    out
  }

  def bpeExtendSql(merges: Seq[(String, String)] = trainedMerges,
                   nExtra: Int = 3, deltaMod: Int = 5): String = {
    def q(s: String) = s.replace("'", "''")
    val mergesRel =
      if (merges.isEmpty)
        "SELECT 0 AS rank, '' AS pat, '' AS rep WHERE false"
      else
        "VALUES\n  " + merges.zipWithIndex.map { case ((a, b), i) =>
          s"(${i + 1}, ' ${q(a)}  ${q(b)} ', ' ${q(a)}${q(b)} ')"
        }.mkString(",\n  ")
    // one (pairs, argmax, apply) triple per extension round; the LEFT
    // JOIN ON TRUE makes an exhausted round a no-op on both engines
    val rounds = (1 to nExtra).map { r =>
      val prev = s"s${r - 1}"
      s"""p$r AS (
         |  SELECT syms[i] AS a, syms[i + 1] AS b, sum(freq) AS weight
         |  FROM (SELECT w, string_split(trim(s), '  ') AS syms FROM $prev)
         |       JOIN freqw USING (w),
         |       unnest(range(1, len(syms))) AS u(i)
         |  WHERE len(syms) >= 2
         |  GROUP BY 1, 2),
         |b$r AS (SELECT a, b FROM p$r ORDER BY weight DESC, a || ' ' || b LIMIT 1),
         |s$r AS (
         |  SELECT w, CASE WHEN b$r.a IS NULL THEN s
         |    ELSE replace(s, ' ' || b$r.a || '  ' || b$r.b || ' ',
         |                 ' ' || b$r.a || b$r.b || ' ') END AS s
         |  FROM $prev LEFT JOIN b$r ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE
       |freqsrc AS (
       |  SELECT source, w, count(*) AS freq FROM (
       |    SELECT source, unnest(words) AS w
       |    FROM (${TextOps.preparedSql})
       |    WHERE (${Exprs.arrivalSplitSql("doc_id", deltaMod)}) = 0)
       |  GROUP BY source, w),
       |freqw AS (SELECT w, CAST(sum(freq) AS BIGINT) AS freq
       |          FROM freqsrc GROUP BY w),
       |fm(rank, pat, rep) AS ($mergesRel),
       |seg AS (
       |  SELECT w, regexp_replace(w, '(.)', ' \\1 ', 'g') AS s, 0 AS i FROM freqw
       |  UNION ALL
       |  SELECT seg.w, replace(seg.s, m.pat, m.rep), seg.i + 1
       |  FROM seg JOIN fm m ON m.rank = seg.i + 1),
       |s0 AS (SELECT w, s FROM seg WHERE i = ${merges.size}),
       |$rounds,
       |nt AS (
       |  SELECT s0.w,
       |    (length(s0.s) - length(replace(s0.s, ' ', ''))) // 2 AS ntok_frozen,
       |    (length(sN.s) - length(replace(sN.s, ' ', ''))) // 2 AS ntok_ext
       |  FROM s0 JOIN s$nExtra sN USING (w))
       |SELECT source, CAST(n_words AS BIGINT) AS n_words,
       |  CAST(t_frozen * 1000 // n_words AS BIGINT) AS fert_pm_frozen,
       |  CAST(t_ext * 1000 // n_words AS BIGINT) AS fert_pm_ext,
       |  CAST(frag_frozen * 1000 // n_words AS BIGINT) AS frag_pm_frozen,
       |  CAST(frag_ext * 1000 // n_words AS BIGINT) AS frag_pm_ext
       |FROM (
       |  SELECT f.source, sum(f.freq) AS n_words,
       |    sum(f.freq * nt.ntok_frozen) AS t_frozen,
       |    sum(f.freq * nt.ntok_ext) AS t_ext,
       |    sum(CASE WHEN nt.ntok_frozen = length(f.w) THEN f.freq ELSE 0 END) AS frag_frozen,
       |    sum(CASE WHEN nt.ntok_ext = length(f.w) THEN f.freq ELSE 0 END) AS frag_ext
       |  FROM freqsrc f JOIN nt USING (w)
       |  GROUP BY f.source)
       |ORDER BY source""".stripMargin
  }

  /** Train `nMerges` BPE merges. Returns the ordered merge table
    * (rank, sym_a, sym_b, weight). Each round: pair-count agg over the
    * vocabulary (|vocab| rows, NOT the corpus), 1-row argmax to the driver,
    * row-local merge application. The vocabulary dataframe is cached and
    * re-derived functionally — rounds are bounded by `nMerges`, the same
    * driver-loop contract as the k-means step and CC propagation.
    */
  def train(spark: SparkSession, dir: String, nMerges: Int = 10): Seq[(Int, String, String, Long)] = {
    var v = vocab(spark, dir).cache()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    // stop at the FIRST empty argmax — no mergeable pair can reappear in a
    // later round, so running the remaining aggregations would be pure waste
    while (r <= nMerges && !exhausted) {
      val top = bpePairsFrom(v)
        .orderBy(col("weight").desc, col("pair")).limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val row = top(0)
        val Array(a, b) = row.getString(0).split(" ", 2)
        merges += ((r, a, b, row.getLong(1)))
        val next = applyMerge(v, a, b).cache()
        next.count() // materialize before unpersisting the parent
        v.unpersist()
        v = next
        r += 1
      }
    }
    v.unpersist()
    merges.toSeq
  }
}
