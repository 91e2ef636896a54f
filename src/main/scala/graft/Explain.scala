package graft

import org.apache.spark.sql.SparkSession

/** Plan-dump harness (optimization rounds): writes `.explain("formatted")`
  * for the named queries to <outDir>/<name>_<tag>.txt so plan-shape claims
  * in OPTIMIZATION_*.md are committed evidence, not prose. Beside it,
  * <outDir>/<name>_<tag>.optimized.txt holds the optimized logical plan
  * with its `#\d+` expression ids stripped, so two runs with the same
  * tag into two directories compare by `diff -r` (the plan-identity
  * check of a refactor).
  *
  * Usage: runMain graft.Explain <sfDir> <outDir> <tag> q_a,q_b,...
  * (tag is "before"/"after"). Not part of the library or driver contract.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val names: Seq[String] =
      if (args.length > 3 && args(3).nonEmpty) args(3).split(",").toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      graft.plans.WheelAcceleration.clear()
      val df = SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val optimized = df.queryExecution.optimizedPlan.toString
        .replaceAll("#\\d+", "")
      Seq(s"${n}_$tag.txt" -> txt,
        s"${n}_$tag.optimized.txt" -> optimized).foreach { case (f, body) =>
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/$f"),
          body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[explain] wrote $outDir/$f")
      }
    }
    spark.stop()
  }
}
