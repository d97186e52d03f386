package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One span of the traced run: `layer` is the span's level in the nesting
  * workload → op (query or micro-batch) → build/exec → job → stage. */
final case class Span(id: String, parent: String, name: String, layer: String,
    startMs: Long, endMs: Long)

/** Observes Spark only through its listeners (SparkListener, StreamingQueryListener), and records spans and
  * counters in memory until the run ends.
  *
  * A Spark job is traced when it carries the local property [[TraceKey]];
  * the benchmark sets it around each traced call, and a stream started
  * with it set hands it to its micro-batch thread. The job's parent span is
  * the [[SpanKey]] property, or for streaming jobs the micro-batch named by
  * `streaming.sql.batchId`. Tasks, stages and query executions inherit the
  * decision of their job, so the counters do not depend on when the
  * asynchronous listener bus delivers an event. Micro-batch progress is
  * recorded in every run: the end-to-end batch times come from it. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicLong(0)
  private val counters = new ConcurrentHashMap[String, LongAdder]()
  private val jobParent = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val tracedExecs = ConcurrentHashMap.newKeySet[Long]()
  private val blocks = new ConcurrentHashMap[String, java.lang.Long]()
  private val cacheNow = new AtomicLong(0)
  private val cachePeak = new AtomicLong(0)
  @volatile private var cacheOn = false
  /** Micro-batch progress of every stream, in arrival order. */
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()

  def add(name: String, v: Long): Unit =
    counters.computeIfAbsent(name, _ => new LongAdder).add(v)
  def count(name: String): Long = Option(counters.get(name)).map(_.sum).getOrElse(0L)

  def newId(prefix: String): String = s"$prefix${nextId.incrementAndGet()}"

  def record(id: String, parent: String, name: String, layer: String, start: Long, end: Long): Unit =
    spans.add(Span(id, parent, name, layer, start, end))

  /** Runs `body` as a span under `parent`; the Spark jobs it launches are
    * traced and parented to it when `traced`. Returns the body's value and
    * its wall time in ms. */
  def span[T](parent: String, name: String, layer: String, traced: Boolean)(body: String => T): (T, Double) = {
    val sc = spark.sparkContext
    val id = newId(layer.take(1))
    val (prevT, prevS) = (sc.getLocalProperty(TraceKey), sc.getLocalProperty(SpanKey))
    if (traced) { sc.setLocalProperty(TraceKey, "1"); sc.setLocalProperty(SpanKey, id) }
    val t0 = System.nanoTime(); val w0 = System.currentTimeMillis()
    try {
      val v = body(id)
      (v, (System.nanoTime() - t0) / 1e6)
    } finally {
      if (traced) {
        record(id, parent, name, layer, w0, System.currentTimeMillis())
        sc.setLocalProperty(TraceKey, prevT); sc.setLocalProperty(SpanKey, prevS)
      }
    }
  }

  /** Marks the stream started inside `body` as traced (see class doc). */
  def tracedStreamStart[T](body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(TraceKey, "1")
    try body finally sc.setLocalProperty(TraceKey, null)
  }

  def cacheTracking(on: Boolean): Unit = cacheOn = on
  def cachePeakBytes: Long = cachePeak.get

  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def compileMeanMs: Double = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean

  private val fenceJobs = new ConcurrentHashMap[Int, String]()
  private val fencesSeen = ConcurrentHashMap.newKeySet[String]()

  /** Waits until the listener has seen every event posted before this call:
    * runs a marker job and waits for its job end. */
  def fence(): Unit = {
    val sc = spark.sparkContext
    val tag = newId("f")
    sc.setLocalProperty(FenceKey, tag)
    try spark.range(1).write.format("noop").mode("overwrite").save()
    finally sc.setLocalProperty(FenceKey, null)
    val deadline = System.currentTimeMillis() + 30000
    while (!fencesSeen.contains(tag) && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      p.flatMap(x => Option(x.getProperty(FenceKey))).foreach(fenceJobs.put(e.jobId, _))
      if (p.exists(x => x.getProperty(TraceKey) == "1")) {
        val parent = p.flatMap(x => Option(x.getProperty(SpanKey)))
          .orElse(p.flatMap(x => Option(x.getProperty("streaming.sql.batchId"))).map("b" + _))
          .getOrElse("root")
        jobParent.put(e.jobId, parent)
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(stageJob.put(_, e.jobId))
        p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
          .flatMap(_.toLongOption).foreach(tracedExecs.add)
        add("scheduler.jobs", 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(fenceJobs.remove(e.jobId)).foreach(fencesSeen.add)
      Option(jobParent.get(e.jobId)).foreach { parent =>
        record(s"j${e.jobId}", parent, s"job ${e.jobId}", "job", jobStart.get(e.jobId), e.time)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      if (stageJob.containsKey(s.stageId)) {
        add("scheduler.stages", 1)
        record(s"s${s.stageId}.${s.attemptNumber()}", s"j${stageJob.get(s.stageId)}",
          s.name, "stage", s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stageJob.containsKey(e.stageId) && e.taskMetrics != null) {
        val m = e.taskMetrics
        add("scheduler.tasks", 1)
        add("executor.run_ms", m.executorRunTime)
        add("executor.cpu_ns", m.executorCpuTime)
        add("executor.gc_ms", m.jvmGCTime)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add("shuffle.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("sources.bytes_read", m.inputMetrics.bytesRead)
        add("sources.records_read", m.inputMetrics.recordsRead)
        add("output.bytes_written", m.outputMetrics.bytesWritten)
      }
    // the planning phases of a traced SQL execution: the tracker of the
    // QueryExecution its end event carries (the object QueryExecutionListener
    // callbacks receive; the accessor is not part of the Scala API)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd if tracedExecs.remove(end.executionId) =>
        val qe = classOf[SparkListenerSQLExecutionEnd].getMethod("qe").invoke(end).asInstanceOf[QueryExecution]
        if (qe != null) {
          val ph = qe.tracker.phases
          Seq("analysis" -> "analysis", "optimization" -> "optimization", "planning" -> "physical")
            .foreach { case (phase, name) => ph.get(phase).foreach(p => add(s"planning.${name}_ms", p.durationMs)) }
        }
      case _ =>
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (cacheOn) {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
        val now = info.memSize + info.diskSize
        val before = if (now > 0) blocks.put(key, now) else blocks.remove(key)
        val v = cacheNow.addAndGet(now - Option(before).map(_.longValue).getOrElse(0L))
        cachePeak.accumulateAndGet(v, math.max)
      }
    }
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e)
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(jobs)
  spark.streams.addListener(streams)

  /** Self time of each layer: a span's duration minus the union of the
    * intervals its children cover, summed per layer. */
  def selfMsByLayer(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
          .filter { case (a, b) => b > a })
        math.max(0L, s.endMs - s.startMs - covered).toDouble
      }.sum
    }
  }
}

object Tracer {
  val TraceKey = "perfbench.trace"
  val SpanKey = "perfbench.span"
  val FenceKey = "perfbench.fence"

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
