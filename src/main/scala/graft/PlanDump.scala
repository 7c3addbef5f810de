package graft

/** Round-7 plan-evidence tool (guide §1: capture `.explain("formatted")`
  * for every touched query, before and after). NOT part of the measurement
  * harness — Bench.scala is frozen; this main only writes plan text files.
  *
  * Usage: runMain graft.PlanDump <outDir> <query> [<query> ...]
  * Runs each declared query once (so AQE's final plan is shown), then
  * writes `<outDir>/<query>.txt` with the formatted explain output.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <query>...")
    val outDir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSpark.session("graft-plandump")
    args.drop(1).foreach { name =>
      spark.sparkContext.setJobDescription(s"plandump: $name")
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.count() // execute so the AQE final plan (isFinalPlan=true) is captured
      val text = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(outDir.resolve(s"$name.txt"),
        text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      graft.ops.OpCaches.releaseAll()
      println(s"== wrote $name")
    }
    spark.stop()
  }
}
