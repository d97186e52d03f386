package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: every contract query against
  * SPARK_GRAFT_SF_DIR, one JSON line on stdout.
  *
  * Queries are forced through the noop sink — a bare `count()` lets
  * Catalyst prune the expensive projections (hashes, HOF reductions)
  * and would overstate throughput. One tiny warmup query first so JIT/
  * codegen compilation isn't billed to the first measured query.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(defaultCpus = "32")
    val cpus = spark.conf.get("spark.sql.shuffle.partitions") // = SPARK_GRAFT_CPUS

    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double =
      try {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        // stop the clock BEFORE cache teardown: unpersisting the big
        // persisted intermediates (p6/p9/p12) is bookkeeping between
        // queries, not query time
        (System.nanoTime() - t0) / 1e9
      } catch { case _: Throwable => -1.0 }
      finally spark.catalog.clearCache() // queries may persist() intermediates;
                                         // don't bill cache memory to the next one

    // warmup: first scan of every table (footer reads, FS cache) +
    // codegen/shuffle machinery, so none of it bills to a measured query.
    // Guarded per table: one broken source must cost only its own
    // queries (-1 in run()), never the whole round — BENCH_r14 was
    // voided (rc=1, zero numbers) by an unguarded warmup count here.
    sources.Tables.all.foreach { t =>
      // NonFatal, not Throwable: an analysis/IO failure costs only this
      // table's queries, but an OOM mid-warmup must kill the round —
      // timings measured in a heap-thrashed JVM would feed the 2× gate
      // as plausible-looking garbage.
      try sources.Tables.loadAny(spark, sfDir, t).count()
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] warmup of $t failed: ${e.getMessage}")
      }
    }
    run(queries.Relational.q2.fn)

    // SPARK_GRAFT_ONLY=q1_filter_agg,q22_range_join : isolate queries
    // when profiling a regression (dev aid; driver leaves it unset)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val bench = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.forall(_.contains(q._1)))

    // Throwaway UNTIMED pass over the full list first: the table-count
    // warmup above covers scans, but not each query's own machinery
    // (UDAF codegen, persist/unpersist paths, window exec JIT) — the
    // r15 capture had 4 of the first 6 queries in sorted order
    // nominally >2× bar with no plan-level cause, a head-of-list
    // cold-start cluster. SPARK_GRAFT_WARMPASS=0 skips it (dev aid).
    if (sys.env.getOrElse("SPARK_GRAFT_WARMPASS", "1") != "0")
      bench.foreach { case (_, fn) => run(fn) }

    // min over TWO FULL PASSES of the whole list (not back-to-back
    // samples of each query): a sustained co-tenant spike lands on
    // neighboring queries within one pass, not on the same query in
    // both passes — r1's driver run recorded 19× on a straight scan+agg
    // because both adjacent samples caught the same multi-second spike.
    // Pass 2 runs in REVERSE order so any residual position-correlated
    // effect (spike at launch, cache pressure ramp) hits DIFFERENT
    // queries in the two passes and the min shakes it off.
    val pass1 = bench.map { case (name, fn) => name -> run(fn) }
    val pass2 = bench.reverse.map { case (name, fn) => name -> run(fn) }.reverse
    val results = bench.zip(pass1.map(_._2)).zip(pass2.map(_._2)).map {
      case (((name, fn), a), b) =>
        val best = if (a < 0 || b < 0) math.max(a, b) else math.min(a, b)
        // samples still wildly apart after decorrelation → arbitrate
        val v = if (a > 0 && b > 0 && math.abs(a - b) / math.min(a, b) > 0.5) {
          val c = run(fn)
          if (c >= 0) math.min(best, c) else best
        } else best
        name -> v
    }
    // 2-decimal times (trailing zeros stripped), locale-fixed: raw
    // Double.toString put the 70-query line over the driver's 2000-byte
    // tail capture (r4–r6 all recorded a truncated head → parsed:null).
    // At 98 queries even the 2-decimal line (~2.7 KB) no longer fits
    // that window — the BENCH_LAST.json file write below is the
    // authoritative carrier; the printed line remains for captures
    // wide enough to hold it. 10 ms resolution is ample for a 2× gate.
    def fmt(v: Double): String = {
      val s = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".") else s
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // "cpus" (the SPARK_GRAFT_CPUS value this run was built with) and
    // "parallelism" (the context's ACTUAL defaultParallelism) prove the
    // width contract in-band: the driver's low-core probe can check the
    // env var took effect instead of inferring from totals that are
    // overhead-flat at fixture scale (r21's suspect_cpus_ignored flag).
    val cpusN = cpus.trim.toIntOption.getOrElse(-1)
    val par = spark.sparkContext.defaultParallelism
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","cpus":$cpusN,"parallelism":$par}"""
    println(line)
    // ALSO persist the line to a file: at 98 queries the line is ~2.7 KB
    // and the driver's ~2 KB tail capture truncates its head (r16's
    // BENCH json was parsed:null for exactly this) — the file carries
    // the full per-query numbers regardless of capture window. Best
    // effort: a read-only CWD must not fail the bench itself.
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_LAST.json"), line + "\n")
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write BENCH_LAST.json: ${e.getMessage}")
    }
    // Compact trailer (NOT a bare JSON line, so any {-scanning parser
    // skips it): total + query count + an MD5 of the per-query map,
    // small enough to survive any ~2 KB tail capture — a round whose
    // main-line capture truncates (r20's parsed:null) still yields a
    // machine-checkable total + integrity hash against BENCH_LAST.json.
    val qmd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(qs.getBytes("UTF-8")).map("%02x".format(_)).mkString
    println(s"[bench] summary total=${fmt(total)}s n_queries=${results.size} " +
      s"cpus=$cpusN parallelism=$par qmap_md5=$qmd5 sf=$sfDir")
    spark.stop()
  }
}
