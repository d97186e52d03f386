package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, smoke: Boolean,
    t0Ms: Long, work: Path, dataRoot: Path, traceOut: Option[Path], meta: Map[String, String])

final case class Ctx(spark: SparkSession, opts: Opts, k: Int, tracer: Tracer) {
  def work: Path = opts.work
  /** Progress note on stderr, stamped with the seconds since launch. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] +${(System.currentTimeMillis() - opts.t0Ms) / 1000.0}%.1fs $msg")
}

/** What a workload measured. `layer` holds its own per-layer metrics; the
  * shared ones (scheduler, executor, shuffle, codegen…) come from the
  * tracer's counters, per traced unit (a traced pass or the traced stream). */
final case class Outcome(attempted: Int, failed: Int, e2e: Map[String, Double],
    layer: Map[String, Double], tracedWallMs: Double, compiles: Long, tracedUnits: Int = 1,
    digests: Seq[(String, Digest.D)] = Nil)

/** One benchmark run: builds the session, runs the named workload, checks
  * its outputs, and prints one JSON line as the last line of stdout:
  * `{"attempted", "failed", "values": {metric: value}, "digests"}`.
  * `perfbench/run.py` is the entry point: it builds the classes, passes the
  * arguments below, checks the digests against the pinned ones, and labels
  * the values with the names and units of BENCHMARK.json. */
object Main {
  val workloads: Seq[String] = Seq("cdc_multi_parquet", "cdc_scd2_jdbc", "sql_contract", "llm_pipeline")

  private def parse(argv: Array[String]): Opts = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(workloads.contains(w), s"unknown workload '$w' (one of ${workloads.mkString(", ")})")
    Opts(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      kv.get("size").contains("smoke"), need("t0-ms").toLong, Paths.get(need("work")), Paths.get(need("data")),
      kv.get("trace-out").map(Paths.get(_)),
      kv.filter(_._1.startsWith("meta.")).map { case (k, v) => k.stripPrefix("meta.") -> v })
  }

  private def session(k: Int, work: Path): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$k]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", k.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "1048576")
      .config("spark.sql.files.openCostInBytes", "65536")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val calibBefore = Calib.ms()
    val k = math.min(4, Runtime.getRuntime.availableProcessors)
    Files.createDirectories(o.work)
    val spark = session(k, o.work)
    val tracer = new Tracer(spark)
    val ctx = Ctx(spark, o, k, tracer)
    ctx.log("session ready")
    val w0 = System.currentTimeMillis()
    val out = o.workload match {
      case "cdc_multi_parquet" | "cdc_scd2_jdbc" => Cdc.run(ctx)
      case _ => Contract.run(ctx)
    }
    tracer.fence()
    tracer.record("w", "", o.workload, "workload", w0, System.currentTimeMillis())
    val calibAfter = Calib.ms()

    // metrics of a layer the workload does not exercise are left out; run.py reads them as 0
    val values: Map[String, Double] =
      if (!o.trace) out.e2e
      else {
        val per = out.tracedUnits.toDouble
        def c(n: String) = tracer.count(n) / per
        val spans = tracer.spans.asScala.toSeq
        val self = tracer.selfMsByLayer(spans)
        val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP)
          .map(_.getPeakUsage.getUsed).sum / 1048576.0
        val shared = Map(
          "sources.bytes_read" -> c("sources.bytes_read"), "sources.records_read" -> c("sources.records_read"),
          "planning.analysis_ms" -> c("planning.analysis_ms"),
          "planning.optimization_ms" -> c("planning.optimization_ms"),
          "planning.physical_ms" -> c("planning.physical_ms"),
          "codegen.compiles" -> out.compiles / per,
          // the compile-time histogram keeps a decaying sample, not a sum:
          // compiles × the sample's mean approximates the compile time
          "codegen.compile_ms" -> out.compiles / per * tracer.compileMeanMs,
          "scheduler.jobs" -> c("scheduler.jobs"), "scheduler.stages" -> c("scheduler.stages"),
          "scheduler.tasks" -> c("scheduler.tasks"),
          "executor.run_ms" -> c("executor.run_ms"), "executor.cpu_ms" -> c("executor.cpu_ns") / 1e6,
          "executor.gc_ms" -> c("executor.gc_ms"),
          "executor.utilisation" -> (if (out.tracedWallMs > 0)
            tracer.count("executor.run_ms") / (out.tracedWallMs * k) else 0.0),
          "shuffle.write_bytes" -> c("shuffle.write_bytes"), "shuffle.read_bytes" -> c("shuffle.read_bytes"),
          "shuffle.fetch_wait_ms" -> c("shuffle.fetch_wait_ms"), "shuffle.spill_bytes" -> c("shuffle.spill_bytes"),
          "cache.peak_bytes" -> tracer.cachePeakBytes.toDouble, "jvm.heap_peak_mb" -> heapPeakMb,
          "host.calib_ms" -> (calibBefore + calibAfter) / 2) ++
          Seq("workload", "op", "build", "exec", "job", "stage")
            .map(l => s"trace.self_ms.$l" -> self.getOrElse(l, 0.0) / per)
        shared ++ out.layer
      }

    val meta = o.meta ++ Map("workload" -> o.workload, "seed" -> o.seed.toString,
      "k" -> k.toString, "size" -> (if (o.smoke) "smoke" else "full"),
      "sf" -> (if (o.workload.startsWith("cdc")) "n/a" else Contract.sfKey(Contract.sf(o.smoke))),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "calib_before_ms" -> f"$calibBefore%.1f", "calib_after_ms" -> f"$calibAfter%.1f",
      "trace" -> o.trace.toString)
    val metaJson = Json.obj(meta.toSeq.sortBy(_._1).map { case (a, b) => a -> Json.str(b) })
    System.err.println(s"[perfbench] run $metaJson")
    val raw = Json.obj(Seq(
      "attempted" -> out.attempted.toString, "failed" -> out.failed.toString,
      "values" -> Json.obj(values.toSeq.sortBy(_._1).map { case (n, v) => n -> Json.num(v) }),
      "sf" -> Json.str(meta("sf")),
      "digests" -> Json.obj(out.digests.map { case (q, d) => q -> Json.arr(Seq(d.rows.toString, Json.str(d.hash))) })))
    o.traceOut.foreach { p =>
      val spans = tracer.spans.asScala.toSeq.sortBy(s => (s.startMs, s.id))
      Fs.write(p, Json.obj(Seq("meta" -> metaJson,
        "spans" -> Json.arr(spans.map(s => Json.obj(Seq("id" -> Json.str(s.id), "parent" -> Json.str(s.parent),
          "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
          "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString)))))) + "\n")
    }
    spark.stop()
    println(raw)
    System.out.flush()
    sys.exit(0)
  }
}
