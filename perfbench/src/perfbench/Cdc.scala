package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.Envelope
import graft.sources.Jdbc
import graft.streaming.Streams

/** The two change-data-capture workloads. Both are closed loops: the
  * generator writes the whole chunk backlog (one JSON-lines file per
  * micro-batch) before the stream starts, and the stream drains it with
  * `maxFilesPerTrigger = 1`. The first `warmup` batches are billed to
  * set-up; the rest are timed. */
object Cdc {

  /** Shape of one CDC workload. `eventsPerBatch` counts row events over
    * all relations; `hot` > 0 skews updates onto that many keys. */
  final case class Shape(relations: Int, keys: Int, eventsPerBatch: Int, hot: Int,
      insertPct: Int, deletePct: Int, warmup: Int, timed: Int)

  def shape(workload: String, smoke: Boolean, seconds: Int): Shape = (workload, smoke) match {
    case ("cdc_multi_parquet", false) => Shape(2, 1000, 2000, 0, 10, 10, 5, math.max(4, seconds * 8 / 10))
    case ("cdc_multi_parquet", true) => Shape(2, 100, 200, 0, 10, 10, 1, 3)
    case ("cdc_scd2_jdbc", false) => Shape(1, 1000, 200, 20, 2, 2, 4, math.max(4, seconds * 3 / 2))
    case (_, _) => Shape(1, 50, 40, 5, 2, 2, 1, 3)
  }

  private def relationsOf(w: String, s: Shape): Seq[Envelope.Relation] =
    if (w == "cdc_scd2_jdbc") Seq(Envelope.studentsRelation)
    else (0 until s.relations).map(i => Envelope.Relation(f"t$i%02d", StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("qty", LongType), StructField("price", DoubleType)))))

  /** The generated inputs: seeded state rows per relation and the chunk
    * backlog. The seed picks keys, ops and values. */
  final case class Inputs(seed: Map[String, Seq[Row]], chunks: Seq[Seq[String]])

  def generate(w: String, s: Shape, seed: Long): Inputs = {
    val rnd = new java.util.SplittableRandom(seed)
    val rels = relationsOf(w, s)
    val scd2 = w == "cdc_scd2_jdbc"
    var lsn = 16L
    def nextLsn(): String = { lsn += 16; f"0/$lsn%08X" }
    def image(rel: String, id: Long): String =
      if (scd2) {
        val y = 1950 + rnd.nextInt(50); val m = 1 + rnd.nextInt(12); val d = 1 + rnd.nextInt(28)
        s"""{"id": $id, "first_name": "f${rnd.nextInt(1000)}", "last_name": "l${rnd.nextInt(1000)}", """ +
          f""""date_of_birth": "$y%04d-$m%02d-$d%02d", "status_id": ${1 + rnd.nextInt(2)}}"""
      } else
        s"""{"id": $id, "name": "n${rnd.nextInt(100000)}", "qty": ${rnd.nextInt(1000)}, """ +
          s""""price": ${rnd.nextInt(1000000) / 100.0}}"""
    // live keys per relation, as an indexable set for uniform picks
    final class Live { val keys = mutable.ArrayBuffer[Long](); val at = mutable.HashMap[Long, Int]()
      def add(k: Long): Unit = { at(k) = keys.size; keys += k }
      def remove(k: Long): Unit = { val i = at.remove(k).get; val last = keys.remove(keys.size - 1)
        if (i < keys.size) { keys(i) = last; at(last) = i } }
      def pick(): Long = keys(rnd.nextInt(keys.size)) }
    val live = rels.map(r => r.name -> new Live).toMap
    val next = mutable.Map(rels.map(_.name -> s.keys.toLong): _*)
    // SCD2: the history starts empty and batch 0 inserts every key;
    // parquet: the state is seeded with every key up front
    val seeded = if (scd2) Map.empty[String, Seq[Row]] else rels.map { r =>
      r.name -> (0L until s.keys).map { k =>
        live(r.name).add(k)
        Row(k, s"n${rnd.nextInt(100000)}", rnd.nextInt(1000).toLong, rnd.nextInt(1000000) / 100.0)
      }
    }.toMap
    val chunks = (0 until s.warmup + s.timed).map { b =>
      val out = mutable.ArrayBuffer[String]()
      def ev(tag: String, rel: String, id: Long): Unit = {
        val body = if (tag == "delete") s""""old": {"id": $id}""" else s""""new": ${image(rel, id)}"""
        out += s"""{"lsn": "${nextLsn()}", "tag": "$tag", "table": "$rel", $body}"""
      }
      if (scd2 && b == 0) (0L until s.keys).foreach { k => live(rels.head.name).add(k); ev("insert", rels.head.name, k) }
      else for (i <- 0 until s.eventsPerBatch) {
        val rel = rels(i % rels.size).name
        val l = live(rel)
        val roll = rnd.nextInt(100)
        if (roll < s.insertPct || l.keys.size < 2) {
          val k = next(rel); next(rel) = k + 1; l.add(k); ev("insert", rel, k)
        } else if (roll < s.insertPct + s.deletePct) {
          val k = l.pick(); l.remove(k); ev("delete", rel, k)
        } else {
          val k = if (s.hot > 0 && rnd.nextInt(10) < 9) {
            val h = l.keys(rnd.nextInt(math.min(s.hot, l.keys.size))); h
          } else l.pick()
          ev("update", rel, k)
        }
      }
      out.toSeq
    }
    Inputs(seeded, chunks)
  }

  private val seedSchema = StructType(Seq(StructField("id", LongType), StructField("name", StringType),
    StructField("qty", LongType), StructField("price", DoubleType)))

  /** Writes the chunk files (strictly increasing mtimes, in the past, so
    * the file source replays them in order) and seeds the parquet state
    * under each of `roots`. */
  def materialize(spark: SparkSession, in: Inputs, dir: Path, roots: Seq[Path]): Unit = {
    Files.createDirectories(dir)
    val t0 = System.currentTimeMillis() - 2000L * (in.chunks.size + 1)
    in.chunks.zipWithIndex.foreach { case (c, i) =>
      val f = dir.resolve(f"chunk_$i%05d.jsonl")
      Files.write(f, (c.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
      f.toFile.setLastModified(t0 + i * 2000L)
    }
    for (root <- roots; (rel, rows) <- in.seed)
      spark.createDataFrame(rows.asJava, seedSchema).coalesce(1)
        .write.mode("overwrite").parquet(root.resolve(rel).toString)
  }

  def run(ctx: Ctx): Outcome = {
    val w = ctx.opts.workload
    val spark = ctx.spark
    val s = shape(w, ctx.opts.smoke, ctx.opts.seconds)
    val rels = relationsOf(w, s)
    val scd2 = w == "cdc_scd2_jdbc"
    val schema = if (scd2) Envelope.schema else Envelope.unionSchema(rels)
    val streams = if (ctx.opts.trace) Seq(false, true) else Seq(false)

    // set-up repeated: generate + write + seed, three times; the median counts
    var in: Inputs = null
    var dir: Path = null
    val prepMs = (0 until 3).map { rep =>
      val t0 = System.nanoTime()
      in = generate(w, s, ctx.opts.seed)
      dir = ctx.work.resolve(s"in$rep")
      materialize(spark, in, dir, streams.indices.map(i => ctx.work.resolve(s"state${rep}_$i")))
      (System.nanoTime() - t0) / 1e6
    }
    val prepExtraMs = prepMs.sum - Stats.median(prepMs)
    ctx.log(s"inputs ready (3 x ${Stats.median(prepMs).round} ms)")
    val roots = streams.indices.map(i => ctx.work.resolve(s"state2_$i"))
    val allEvents = spark.read.schema(schema).json(dir.toString)

    val results = streams.zipWithIndex.map { case (traced, i) =>
      drain(ctx, s, rels, scd2, schema, dir, roots(i), traced, i)
    }
    val untraced = results.head
    ctx.log("streams drained")
    val setupS = (untraced.firstTimedStartMs - ctx.opts.t0Ms - prepExtraMs) / 1000.0

    // correctness: the final state against a batch replay of every chunk
    val failedChecks = results.map(r => check(ctx, r, rels, scd2, allEvents, in)).sum
    ctx.log("checked")
    // read_ms: the best read, over the reads right after the drain and as
    // many after the check, so that one load burst on the host rarely
    // covers them all
    val readMs = results.map(r => (r.readsMs ++ readLive(spark, scd2, rels, r.root, r.url)._2).min)
    val batches = results.map(_.batchMs.size).sum
    val wantBatches = streams.size * (s.warmup + s.timed)
    val failedBatches = wantBatches - batches + results.count(_.error.nonEmpty)
    results.flatMap(_.error).foreach(e => System.err.println(s"[perfbench] stream failed: $e"))

    val e2e = Seq("setup_s" -> setupS, "wall_s" -> untraced.wallS,
      "op_ms_p50" -> Stats.median(untraced.timedMs), "read_ms" -> readMs.head)
    val layer = if (!ctx.opts.trace) Map.empty[String, Double] else {
      val t = results.last
      val overhead = Seq("wall_s" -> (t.wallS - untraced.wallS),
        "op_ms_p50" -> (Stats.median(t.timedMs) - Stats.median(untraced.timedMs)),
        "read_ms" -> (readMs.last - readMs.head))
      traceLayers(ctx, s, rels, scd2, dir, schema, t) ++
        overhead.map { case (k, v) => s"trace.overhead.$k" -> v } +
        ("streaming.timed_batches" -> t.timedMs.size.toDouble)
    }
    Outcome(attempted = wantBatches + results.size, failed = failedBatches + failedChecks,
      e2e = e2e.toMap, layer = layer, tracedWallMs = results.last.totalMs,
      compiles = results.last.compiles)
  }

  final case class Drained(batchMs: Seq[Double], timedMs: Seq[Double], wallS: Double,
      firstTimedStartMs: Long, readsMs: Seq[Double], live: Digest.D, root: Path, ckpt: Path,
      url: String, progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      error: Option[String], compiles: Long) {
    /** From the first batch's start to the last batch's end. */
    def totalMs: Double = if (progress.isEmpty) 0.0 else {
      def st(p: org.apache.spark.sql.streaming.StreamingQueryProgress) =
        java.time.Instant.parse(p.timestamp).toEpochMilli
      (st(progress.last) + batchMs.last - st(progress.head)).toDouble
    }
  }

  private val histTable = "students_hist"

  private def liveState(spark: SparkSession, scd2: Boolean, rels: Seq[Envelope.Relation],
      root: Path, url: String): DataFrame =
    if (scd2) Jdbc.snapshot(spark, url, histTable).filter(col("is_current") === 1)
    else rels.map(r => Streams.cdcLiveState(spark, root.resolve(r.name).toString)
      .withColumn("__rel", lit(r.name))).reduce(_ unionByName _)

  /** A downstream consumer reading the live state six times, hashing it in
    * full: the digest and the ms of each read. */
  private def readLive(spark: SparkSession, scd2: Boolean, rels: Seq[Envelope.Relation],
      root: Path, url: String): (Digest.D, Seq[Double]) = {
    var live: Digest.D = null
    val ms = (0 until 6).map { _ =>
      val t0 = System.nanoTime()
      live = Digest.of(liveState(spark, scd2, rels, root, url))
      (System.nanoTime() - t0) / 1e6
    }
    (live, ms)
  }

  private def drain(ctx: Ctx, s: Shape, rels: Seq[Envelope.Relation], scd2: Boolean,
      schema: StructType, dir: Path, root: Path, traced: Boolean, i: Int): Drained = {
    val spark = ctx.spark
    val ckpt = ctx.work.resolve(s"ckpt$i")
    val url = s"jdbc:derby:memory:perfbench_$i;create=true"
    val stream = Streams.envelopeStream(spark, dir.toString, 1, schema)
    def start() =
      if (scd2) Streams.materializeScd2Jdbc(stream, ckpt.toString, url, histTable)
      else Streams.materializeCdcTables(stream, ckpt.toString, root.toString, rels,
        maxConcurrentRelations = rels.size)
    val compiles0 = ctx.tracer.compiles
    val q = if (traced) ctx.tracer.tracedStreamStart(start()) else start()
    val error = try { q.awaitTermination(); None } catch { case e: Exception => Some(e.toString) }
    ctx.log(s"stream $i done")
    val compiles = ctx.tracer.compiles - compiles0
    ctx.tracer.fence()
    def ours = ctx.tracer.progress.asScala.map(_.progress).filter(_.runId == q.runId).toSeq
    val deadline = System.currentTimeMillis() + 30000
    while (error.isEmpty && ours.size < s.warmup + s.timed && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
    val progress = ours.sortBy(_.batchId)
    val batchMs = progress.map(_.durationMs.get("triggerExecution").doubleValue)
    val timed = progress.drop(s.warmup)
    val timedMs = batchMs.drop(s.warmup)
    def startMs(p: org.apache.spark.sql.streaming.StreamingQueryProgress) =
      java.time.Instant.parse(p.timestamp).toEpochMilli
    val (firstStart, wallS) =
      if (timed.isEmpty) (System.currentTimeMillis(), Double.NaN)
      else (startMs(timed.head), (startMs(timed.last) + timedMs.last - startMs(timed.head)) / 1000.0)
    val (live, reads) = readLive(spark, scd2, rels, root, url)
    ctx.log(s"stream $i read; batch ms ${batchMs.map(_.round).mkString(" ")}")
    Drained(batchMs, timedMs, wallS, firstStart, reads, live, root, ckpt, url,
      progress, error, compiles)
  }

  /** The SCD2 fold the JDBC sink applies, over raw envelopes. */
  private def scd2History(events: DataFrame): DataFrame =
    Envelope.scd2Fold(Envelope.project(events).filter(col("tag").isin(Envelope.rowTags: _*))
      .withColumn("valid_from", Envelope.lsnNumeric(col("lsn"))).drop("lsn"))

  /** Batch replay of the generated events over the seeded state. */
  private def replay(spark: SparkSession, rels: Seq[Envelope.Relation], scd2: Boolean,
      events: DataFrame, in: Inputs): (DataFrame, DataFrame) =
    if (scd2) {
      val hist = scd2History(events)
      (hist, hist.filter(col("is_current") === 1))
    } else {
      val live = rels.map { r =>
        val proj = Envelope.projectRelation(events.filter(col("table") === r.name), r)
        val touched = proj.select("id").distinct()
        val seeded = spark.createDataFrame(in.seed(r.name).asJava, seedSchema)
        seeded.join(touched, Seq("id"), "left_anti")
          .unionByName(Envelope.lastImageByKey(proj))
          .withColumn("__rel", lit(r.name))
      }.reduce(_ unionByName _)
      (live, live)
    }

  /** Count of failed checks: the final live state (and, for SCD2, the
    * whole history) against the replay, by row count and hash. */
  private def check(ctx: Ctx, d: Drained, rels: Seq[Envelope.Relation], scd2: Boolean,
      events: DataFrame, in: Inputs): Int = {
    val (full, current) = replay(ctx.spark, rels, scd2, events, in)
    val pairs = Seq(("live state", d.live, Digest.of(current))) ++
      (if (scd2) Seq(("history", Digest.of(Jdbc.snapshot(ctx.spark, d.url, histTable)), Digest.of(full)))
       else Nil)
    pairs.count { case (what, got, want) =>
      val bad = got.rows != want.rows || got.hash != want.hash
      if (bad) System.err.println(s"[perfbench] $what mismatch: got $got, replay $want")
      bad
    }
  }

  private def traceLayers(ctx: Ctx, s: Shape, rels: Seq[Envelope.Relation], scd2: Boolean,
      dir: Path, schema: StructType, d: Drained): Map[String, Double] = {
    val spark = ctx.spark
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val timed = d.progress.drop(s.warmup)
    def med(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double) =
      Stats.median(timed.map(f))
    val spans = ctx.tracer.spans.asScala.toSeq
    val timedIds = timed.map(p => s"b${p.batchId}").toSet
    val jobsTimed = spans.count(sp => sp.layer == "job" && timedIds.contains(sp.parent))
    // micro-batch spans: the op layer of the streaming trace
    d.progress.foreach { p =>
      val st = java.time.Instant.parse(p.timestamp).toEpochMilli
      ctx.tracer.record(s"b${p.batchId}", "w", s"batch ${p.batchId}", "op", st,
        st + p.durationMs.get("triggerExecution").longValue)
    }
    // the Envelope reduce of each timed chunk as a static frame: timed for
    // the fold the sink runs, and counted as last images per key
    val reduced = (s.warmup until s.warmup + s.timed).map { c =>
      val df = spark.read.schema(schema).json(dir.resolve(f"chunk_$c%05d.jsonl").toString)
      val last = if (scd2) Envelope.lastImageByKey(Envelope.project(df))
        else rels.map(r => Envelope.lastImageByKey(Envelope.projectRelation(
          df.filter(col("table") === r.name), r))).reduce(_ unionByName _)
      val t0 = System.nanoTime()
      if (scd2) Digest.of(scd2History(df))
      val dg = Digest.of(last)
      (dg, (System.nanoTime() - t0) / 1e6)
    }
    val eventsIn = med(_.numInputRows.toDouble)
    val changeRows = reduced.map(_._1.rows.toDouble).sum / reduced.size
    val changeBytes = reduced.map(_._1.bytes.toDouble).sum / reduced.size
    // bytes the traced stream's tasks wrote: the parquet state (the JDBC
    // sink reports none, and the checkpoint is written by the driver)
    val perBatchWritten = ctx.tracer.count("output.bytes_written").toDouble / d.batchMs.size
    val stateDisk = if (scd2) 0L else Fs.bytes(d.root)
    val history = if (scd2) Jdbc.snapshot(spark, d.url, histTable).count().toDouble else 0.0
    Map(
      "streaming.add_batch_ms" -> med(dur(_, "addBatch")),
      "streaming.query_planning_ms" -> med(dur(_, "queryPlanning")),
      "streaming.source_ms" -> med(p => dur(p, "getBatch") + dur(p, "latestOffset")),
      "streaming.commit_ms" -> med(p => dur(p, "walCommit") + dur(p, "commitOffsets")),
      "streaming.jobs_per_batch" -> jobsTimed.toDouble / timed.size,
      "streaming.batch_ms_p90" -> Stats.quantile(d.timedMs, 0.9),
      "streaming.state_bytes_written" -> perBatchWritten,
      "streaming.state_write_amp" -> (if (changeBytes > 0) perBatchWritten / changeBytes else 0.0),
      "streaming.state_space_amp" -> (if (scd2 || d.live.bytes == 0) 0.0 else stateDisk.toDouble / d.live.bytes),
      "streaming.checkpoint_bytes" -> Fs.bytes(d.ckpt).toDouble,
      "cdc.events_in" -> eventsIn,
      "cdc.events_per_s" -> eventsIn * timed.size / d.wallS,
      "cdc.change_rows" -> changeRows,
      "cdc.reduce_ratio" -> (if (eventsIn > 0) changeRows / eventsIn else 0.0),
      "cdc.reduce_ms" -> Stats.median(reduced.map(_._2)),
      "sources.jdbc_history_rows" -> history)
  }
}
