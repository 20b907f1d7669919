package graft

import org.apache.spark.sql.DataFrame

/** The one mid-plan materialization, for operators that reuse an expensive
  * subplan across several consumers (LSH signatures, IVF assignments) or
  * iterate over it (connected-components label propagation), and for
  * stream batches walked more than once.
  */
object Materialize {

  /** `localCheckpoint(eager = true)`: executor-local blocks. Fastest, and
    * right for single-node and verification runs — but NOT fault-tolerant:
    * on a cluster, losing an executor loses its blocks and fails the query
    * instead of recomputing them; Spark's reliable `df.checkpoint()` here
    * is the swap for that. Inside a [[SharedRel.capture]] the plan the
    * checkpoint ran is recorded.
    */
  def apply(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint(eager = true)
    SharedRel.record(df)
    out
  }
}

/** Session-scoped memo for DERIVED INDEX relations that several queries
  * share — trained assignments, signature tables, candidate scaffolds.
  * A production deployment stores these once and derives many consumers
  * from them; recomputing + re-materializing the identical deterministic
  * relation inside each query is pure waste, and reuse is value-neutral.
  *
  * [[apply]] memoizes a [[Materialize]]d relation per key; [[once]]
  * memoizes any other per-key result (a tuple of relations, a side-effect
  * scaffold). [[capture]] reads back the plans the materializations
  * actually ran, which is how plan audits see a shared build behind its
  * checkpoint scan. Assumes `dir` contents are immutable within a session
  * (the testdata contract).
  * Entries are keyed on the session OBJECT through a WeakHashMap (an
  * identityHashCode string key could collide a new session with a stopped
  * one and hand back a DataFrame bound to a dead block manager). NOTE the
  * weak key does NOT make stopped sessions' entries collectable: the
  * cached DataFrames strongly reference their SparkSession
  * (`Dataset.sparkSession`), so the value reaches the key and pins the
  * entry for the JVM lifetime. Growth is therefore bounded by distinct
  * parameterizations per session × sessions per JVM — one session in
  * every shipped main; in the test JVM a handful of shared sessions plus
  * one fresh session per capture pin (PlanAuditSpec's `builds`, whose
  * builds and their checkpoint blocks stay resident too) — not by GC.
  * `SharedRel.release` (ROADMAP item 4, open) is what would free them.
  */
object SharedRel {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.execution.SparkPlan

  private val memo = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, Any]]())

  private def forSession(spark: SparkSession) = memo.synchronized {
    memo.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap[String, Any]())
  }

  /** Per-key wall-clock of OUTERMOST memo-miss builds (inner nested builds
    * fold into the triggering key) — the transparency view behind Bench's
    * single `shared_build` row.
    */
  private val buildByKey = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, Double]]())

  def buildBreakdown(spark: SparkSession): Seq[(String, Double)] =
    buildByKey.synchronized {
      Option(buildByKey.get(spark)).map { m =>
        import scala.jdk.CollectionConverters._
        m.asScala.toSeq.sortBy(-_._2)
      }.getOrElse(Seq.empty)
    }

  /** Wall-clock seconds spent inside memo-miss `build`s, per session: the
    * sum of [[buildBreakdown]]. Lets Bench report shared first-builds as
    * their own `shared_build` row instead of charging them to whichever
    * query runs first.
    */
  def buildSeconds(spark: SparkSession): Double = buildBreakdown(spark).map(_._2).sum

  /** Enclosing memo-miss build keys, innermost first, per thread: a build
    * may itself trigger further memo-miss builds (freezeBaseState's first
    * call builds the nearDupLsh scaffold, etc.), and the OUTER build's
    * wall-clock already contains the inner ones' — adding both would
    * double-count, and Bench would then subtract more than the true build
    * time from the triggering query (masked by its `.max(0.0)`),
    * over-reporting `shared_build`. Only the outermost frame adds to
    * [[buildBreakdown]]; the innermost labels what [[capture]] records.
    */
  private val building = new ThreadLocal[List[String]] {
    override def initialValue(): List[String] = Nil
  }

  private def timed[A](spark: SparkSession, key: String)(build: => A): A = {
    val outer = building.get()
    building.set(key :: outer)
    val t0 = System.nanoTime()
    try {
      val built = build
      if (outer.isEmpty) {
        val secs = (System.nanoTime() - t0) / 1e9
        buildByKey.synchronized {
          buildByKey.computeIfAbsent(spark,
            _ => new java.util.concurrent.ConcurrentHashMap[String, Double]())
        }.merge(key, secs, (a, b) => a + b)
      }
      built
    } finally building.set(outer)
  }

  /** The open [[capture]] on this thread: its session and what it has
    * recorded so far; null outside a capture, so nothing is kept then.
    */
  private val capturing =
    new ThreadLocal[(SparkSession, collection.mutable.ArrayBuffer[(String, SparkPlan)])]

  /** Called by [[Materialize]] after its eager checkpoint ran `df`. */
  private[graft] def record(df: DataFrame): Unit = {
    val open = capturing.get()
    if (open != null && (df.sparkSession eq open._1))
      open._2 += (building.get().headOption.getOrElse("") ->
        df.queryExecution.executedPlan)
  }

  /** Runs `body` and returns its result with the executed plan of every
    * [[Materialize]] materialization it ran on this thread over
    * `spark`, in run order, each labelled with the innermost enclosing
    * memo-miss key ("" for a checkpoint outside any shared build, e.g. a
    * per-round one). Shared builds and per-round checkpoints run eagerly
    * while a query is constructed, so this adds no Spark job; a memo hit
    * runs nothing and records nothing. On a fresh `spark.newSession()`
    * the memo is empty, so every shared build a call needs shows up here.
    */
  def capture[A](spark: SparkSession)(body: => A): (A, Seq[(String, SparkPlan)]) = {
    val outer = capturing.get()
    val runs = collection.mutable.ArrayBuffer.empty[(String, SparkPlan)]
    capturing.set((spark, runs))
    try (body, runs.toSeq)
    finally capturing.set(outer)
  }

  /** The relation `build` [[Materialize]]d, memoized under `key` (see
    * [[once]]).
    */
  def apply(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    once(spark, key)(Materialize(build))

  /** Once-per-session result, any type — a relation, a tuple of relations,
    * or a SIDE-EFFECT scaffold (e.g. writing a topic dir a query then
    * reads back): `build` runs on the first call for `key`, its result is
    * memoized, and its cost lands in [[buildSeconds]] so Bench charges it
    * to the `shared_build` row — the query's own timed window then
    * measures the mechanism the query is about, not setup I/O.
    *
    * Memoize-or-build with a get/putIfAbsent double-check instead of
    * computeIfAbsent: a build may itself populate OTHER SharedRel keys
    * (freezeBaseState builds the contamination index, etc.), and a
    * reentrant computeIfAbsent on one ConcurrentHashMap throws "Recursive
    * update" whenever the keys land in the same bin — a hash-dependent
    * landmine. The cost is a possible duplicate build under a concurrent
    * race (one result discarded — value-neutral, both deterministic).
    */
  def once[A](spark: SparkSession, key: String)(build: => A): A = {
    val m = forSession(spark)
    val existing = m.get(key)
    if (existing != null) existing.asInstanceOf[A]
    else {
      val built = timed(spark, key)(build)
      val prev = m.putIfAbsent(key, built)
      (if (prev != null) prev else built).asInstanceOf[A]
    }
  }
}
