package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession of the dev/driver mains (Bench, Verify,
  * PlanDump, CcProbe, ScaleSmoke), so the plans they capture and the
  * times they measure come from the same engine settings. */
object Harness {

  /** `local[$SPARK_GRAFT_CPUS]` (default `defaultCpus`) with one shuffle
    * partition per core, UTC, AQE on, no UI, log level WARN. The
    * harness files are single small parquets, and the default 128 MB
    * split would make each one scan task: 1 MB splits (64 KB open cost)
    * let local[N] parallelize the scans, as many files and row groups
    * do on a real cluster. */
  def session(defaultCpus: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "1048576")
      .config("spark.sql.files.openCostInBytes", "65536")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
