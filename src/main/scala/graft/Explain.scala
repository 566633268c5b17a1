package graft

import java.nio.file.{Files, Paths}

/** Dev tool: dump `.explain("formatted")` for every query to
  * `<outDir>/<name>.txt` for plan review (pushdown, broadcast, codegen
  * spans).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = if (args.length > 1) args(1) else "/tmp/plans"
    // comma-separated query filter, same contract as Verify
    val toExplain =
      SparkEntry.selected(SparkEntry.queryFilter(sys.env.getOrElse("SPARK_GRAFT_ONLY", "")))
    // sized like Verify/Bench: Tables.spread compares scan splits with
    // defaultParallelism, so a plan dumped at another core count can
    // show another spread decision than the run it explains
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    toExplain.foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/$name.txt"), plan)
      } catch {
        case e: Throwable =>
          Files.writeString(Paths.get(s"$outDir/$name.txt"), s"ERROR: ${e.getMessage}")
      }
      // per-query hygiene, same as Bench/Verify: plan construction pins
      // materializations that must not leak into the next query's plan
      Residue.drain(spark)
    }
    spark.stop()
  }
}
