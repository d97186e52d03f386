package graft

/** Dev/judge aid: dump `.explain("formatted")` for every declared query
  * to <outDir>/<query>.txt. Drives the same `SparkEntry.queries` map the
  * bench and oracle gate use, at the same local config, so the captured
  * plans are the plans the driver measures.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> [query1,query2,...]
  *
  * NOTE: plans are captured via queryExecution.explainString on the
  * ANALYZED-then-planned query without executing it (AQE plans print
  * isFinalPlan=false); queries whose plan depends on a driver-side
  * training loop (k-means iterations, PCA power iterations) execute
  * those loops while building the DataFrame — that is part of plan
  * construction for them and unavoidable.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 1) args(1) else "/tmp/plans"
    val only = if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Harness.session(defaultCpus = "32")
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.forall(_.contains(q._1)))
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(outDir, s"$name.txt"), txt)
          println(s"[plandump] $name ok")
        } catch { case scala.util.control.NonFatal(e) =>
          println(s"[plandump] $name FAILED: ${e.getMessage}")
        } finally spark.catalog.clearCache()
      }
    spark.stop()
  }
}
