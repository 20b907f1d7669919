package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: dump formatted physical plans for plan audits (pushdown,
  * broadcast, codegen coverage). Usage: runMain graft.Explain [names...]
  *
  * Each query's construction runs inside [[SharedRel.capture]], so after
  * its own plan (header `<name>`) come the executed plans of the shared
  * builds and per-round checkpoints it ran (header `<name>/<i>`, then
  * the build's SharedRel key, `-` for none). A build shared with an
  * earlier query in the same JVM is a memo hit and prints under that
  * earlier query only.
  */
object Explain {
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
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      val (df, built) = SharedRel.capture(spark)(SparkEntry.queries(n)(spark, sfDir))
      println(s"\n===================== $n =====================")
      df.explain("formatted")
      built.zipWithIndex.foreach { case ((key, plan), i) =>
        println(s"\n===================== $n/$i =====================")
        println(if (key.isEmpty) "-" else key)
        println(plan)
      }
    }
    spark.stop()
  }
}
