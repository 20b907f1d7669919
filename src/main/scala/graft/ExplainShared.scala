package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool (r22): dump formatted physical plans for the SHARED-BUILD
  * relations the bench's `shared_build` row pays for — these never
  * surface through [[Explain]] because the registered query plans show
  * only their checkpoint scans. Usage: runMain graft.ExplainShared [names]
  * where names ⊆ the keys below (default: all).
  */
object ExplainShared {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.functions.{TextOps, VectorOps}
    // each entry builds the relation UNMEMOIZED (Passthrough where the
    // builder takes a mat; the fresh-session plan otherwise) so the dump
    // shows the build chain, not a checkpoint scan
    val builds: Map[String, () => org.apache.spark.sql.DataFrame] = Map(
      "marginexact" -> (() => VectorOps.marginCore(spark, sfDir,
        pmod(col("label"), lit(2)) === 0, k = 4, kCentroids = 1,
        minMargin = 1.0, nProbe = 4, mat = Materialize.Passthrough)
        .select(col("a_id"), col("b_id"))),
      "stalehits" -> (() => VectorOps.staleBeamHitsBuild(spark, sfDir,
        nQueries = 20, k = 5, beam = 8, hops = 3, kNn = 5, kCentroids = 16,
        mod = 5, nProbe = 2, mat = Materialize.Passthrough)),
      "spancuts" -> (() => TextOps.sortedCutArraysBuild(spark, sfDir, 5)),
      "incrstate-walk" -> (() => graft.functions.MixOps.incrAssignments(
        spark, sfDir, mat = Materialize.Passthrough))
    )
    val names = if (args.nonEmpty) args.toSeq else builds.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      builds.get(n) match {
        case Some(build) => build().explain("formatted")
        case None => println(s"unknown shared build '$n'; valid: " +
          builds.keys.toSeq.sorted.mkString(", "))
      }
    }
    spark.stop()
  }
}
