package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.sql.{SaveMode, SparkSession}

import graft.{SharedRel, SparkEntry}

/** The batch layers of a traced run: one pass of two small suites of
  * registered queries over generated tables, in a fresh session, so the
  * `SharedRel` builds the pass triggers are paid, and counted, inside it.
  * Each query's result is written to parquet; `run.py` compares it with
  * the query's DuckDB oracle afterwards.
  */
object BatchBench {
  import Main.nowMs

  val WarmUp = "q1_pricing"

  /** One query per operator module: Readings, DashboardAggs, Sessions,
    * AsofJoin, Relational.
    */
  val DashSuite: Seq[String] = Seq(
    "e_validate", "e_stats", "e_sessions", "e_asof_cal", "q5_region_revenue")

  /** Vector queries: exact kNN, LSH with its recall check, near-duplicate
    * mining; they share the `prepared`, `annhits` and `knnexact` builds.
    */
  val VectorSuite: Seq[String] = Seq("v_knn", "v_ann_lsh", "v_recall_lsh", "v_neardup")

  /** Per-layer seconds of the pass: `batch.dash_s` and `batch.vector_s`
    * (summed query seconds, shared builds included) and `shared.build_s`;
    * with the queries attempted and those that threw.
    */
  final case class Pass(attempted: Int, failed: Int, layers: Map[String, Double])

  def pass(ctx: Ctx): Pass = {
    val data = ctx.dir("batch/data")
    val check = ctx.dir("batch/check")
    BatchGen.write(ctx.spark, ctx.seed, data)
    Main.mark("tables written")
    SparkEntry.queries(WarmUp)(ctx.spark.newSession(), data).write.format("noop")
      .mode(SaveMode.Overwrite).save()

    val session = ctx.spark.newSession()
    var failed = Set.empty[String]
    def run(suite: Seq[String]): Double =
      new Random(ctx.seed).shuffle(suite).map { q =>
        // start each query on an emptied heap, as graft.Bench does
        System.gc()
        val builds0 = SharedRel.buildBreakdown(session).toMap
        val t0 = nowMs
        try SparkEntry.queries(q)(session, data).write.mode(SaveMode.Overwrite).parquet(s"$check/$q")
        catch { case e: Throwable =>
          System.err.println(s"[perfbench] $q failed: $e")
          failed += q
        }
        val t1 = nowMs
        System.err.println(f"[perfbench] query $q ${t1 - t0}%.0f ms")
        val span = ctx.tracer.add(s"query-$q", 0, s"query.$q", t0, t1)
        // SharedRel reports build seconds per key, not when they ran:
        // each build becomes a child span laid end to end from the start
        var at = t0
        SharedRel.buildBreakdown(session).foreach { case (k, s) =>
          val d = (s - builds0.getOrElse(k, 0.0)) * 1000
          if (d > 0) { ctx.tracer.add(s"query-$q", span, "shared_build", at, at + d); at += d }
        }
        (t1 - t0) / 1000.0
      }.sum
    val dashS = run(DashSuite)
    val vectorS = run(VectorSuite)
    val sharedS = SharedRel.buildSeconds(session)
    Main.mark(f"batch pass: dash $dashS%.2f s, vector $vectorS%.2f s, shared builds $sharedS%.2f s")

    def js(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val suite = DashSuite ++ VectorSuite
    val oracle = suite.map(q => s"${js(q)}: ${js(SparkEntry.oracleSql(q))}").mkString("{", ",\n", "}")
    Files.write(Paths.get(check, "oracle_sql.json"), oracle.getBytes(UTF_8))
    Files.write(Paths.get(check, "failed.txt"), failed.toSeq.sorted.mkString("\n").getBytes(UTF_8))
    Pass(suite.size, failed.size,
      Map("batch.dash_s" -> dashS, "batch.vector_s" -> vectorS, "shared.build_s" -> sharedS))
  }
}
