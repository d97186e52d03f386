package graft

/** Dev aid (r22 measurement, guide §1): how many propagation rounds does
  * [[graft.ops.Dedup.connectedComponents]] take on the REAL fixture pair
  * lists, and what does each cost? The CC loop is the shared engine of
  * p13/p14/p44/p47 (~10 s combined in BENCH_r21) and every round is one
  * driver action — this prints the measured round count + wall-clock so
  * the round-floor claim in OPTIMIZATION_r22.md is a number, not a guess.
  *
  * Usage: runMain graft.CcProbe [sfDir]
  */
object CcProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = Harness.session(defaultCpus = "32")
    import org.apache.spark.sql.functions.col

    // warm scans + codegen so the probe measures the loop, not cold start
    sources.Tables.all.foreach(t =>
      try sources.Tables.loadAny(spark, sfDir, t).count() catch { case _: Throwable => () })

    for (pass <- 1 to 3) {
      val pairs = queries.Pipeline.minhashPairs(spark, sfDir)
        .select(col("da"), col("db")).persist()
      pairs.count() // materialize so the CC timing excludes pair derivation
      val t0 = System.nanoTime()
      val (comps, rounds) = ops.Dedup.connectedComponentsWithRounds(pairs, "da", "db")
      val n = comps.count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[ccprobe] pass=$pass rounds=$rounds members=$n cc_sec=$sec%.2f per_round=${sec / rounds}%.2f")
      pairs.unpersist()
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
