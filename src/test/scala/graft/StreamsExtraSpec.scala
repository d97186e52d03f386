package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.cdc.{Envelope, Fixture}
import graft.streaming.Streams

/** Local FS registered under `failfs://` whose `rename` RETURNS FALSE
  * (Hadoop's no-exception error convention) for the next rename whose
  * destination carries the armed name — the failure mode
  * `Streams.materializeCdc`'s checkedFs guard exists for. Top-level
  * class: Hadoop instantiates it by reflection from `fs.failfs.impl`.
  * (Same shape as a FilterFileSystem wrapper; subclassing
  * RawLocalFileSystem skips the wrapper's scheme/checkPath friction.) */
class FailOnceFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("failfs:///")
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = {
    val armed = FailOnceFs.armedDstName.get()
    if (armed != null && dst.getName == armed) {
      FailOnceFs.armedDstName.set(null)
      false
    } else super.rename(src, dst)
  }
  override def delete(p: org.apache.hadoop.fs.Path, recursive: Boolean): Boolean = {
    val armed = FailOnceFs.armedDeleteName.get()
    if (armed != null && p.getName == armed) {
      FailOnceFs.armedDeleteName.set(null)
      false
    } else super.delete(p, recursive)
  }
}
object FailOnceFs {
  /** Destination name whose next rename fails, or null = disarmed. */
  val armedDstName = new java.util.concurrent.atomic.AtomicReference[String](null)
  /** Path name whose next delete fails, or null = disarmed. */
  val armedDeleteName = new java.util.concurrent.atomic.AtomicReference[String](null)
}

class StreamsExtraSpec extends SparkSuite {

  /** Vintage-adaptive events file stream (Tables.eventsStream) — these
    * suites survive a harness regen flipping the parquet encoding
    * (the r14 regen did exactly that and broke the hard-coded
    * INT64-nanos readers that used to live here). */
  private def eventsFileStream(dir: String): org.apache.spark.sql.DataFrame =
    graft.sources.Tables.eventsStream(spark, dir)
  import spark.implicits._

  test("stream-static enrich joins the status lookup without shuffling the stream") {
    val status = Seq((1, "active"), (2, "inactive")).toDF("status", "value")
    val projected = Envelope.project(
      spark.read.schema(Envelope.schema).json(Fixture.materialize()))
    // batch check of the same transform the stream uses
    val enriched = Streams.enrichWithStatic(projected, status, Seq("status"))
    assert(enriched.filter(col("tag") =!= "delete").filter(col("value").isNull).count() == 0)
    assert(enriched.count() == projected.count())
    // plan must broadcast the static side
    val plan = enriched.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"), plan)
  }

  test("stateful aggregation is provider-agnostic: RocksDB state store matches batch") {
    // At production state sizes (billions of keys) the default
    // HDFS-backed in-heap store OOMs; RocksDB spills state to local
    // disk with incremental checkpointing. Same query, same answer —
    // only the state backend changes.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val raw = spark.read.schema(Envelope.schema).json(Fixture.materialize())
      val dir = java.nio.file.Files.createTempDirectory("graft_rocks_src")
      raw.write.mode("overwrite").json(dir.toString)
      val stream = spark.readStream.schema(Envelope.schema).json(dir.toString)
      val counts = Envelope.project(stream)
        .groupBy(col("tag")).agg(count(lit(1)).as("n"))
      Streams.runToMemory(counts, "t_rocks", OutputMode.Complete())
        .awaitTermination()
      val expected = Envelope.project(raw)
        .groupBy(col("tag")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = spark.table("t_rocks")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expected)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("transformWithState running counts converge to the batch groupBy (RocksDB-backed)") {
    // the Spark 4 arbitrary-state API only runs on RocksDB; Update
    // mode emits the running count each batch, so the max per user is
    // the final state and must equal the batch count
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val raw = spark.read.schema(Envelope.schema).json(Fixture.materialize())
        .withColumn("user_id", coalesce(col("new.id"), col("old.id")))
        .where(col("user_id").isNotNull) // non-DML envelope rows carry no image
        .withColumn("event_id", monotonically_increasing_id())
        .select(col("user_id"), col("event_id"))
      val dir = java.nio.file.Files.createTempDirectory("graft_tws_src")
      raw.write.mode("overwrite").json(dir.toString)
      val stream = spark.readStream
        .schema("user_id LONG, event_id LONG").json(dir.toString)
      Streams.runToMemory(Streams.userEventCountsTws(stream).toDF(),
        "t_tws", OutputMode.Update()).awaitTermination()
      val got = spark.table("t_tws")
        .groupBy(col("userId")).agg(max(col("n")).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = raw.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("event-time timers: inactivity fires when the watermark passes lastSeen+gap, re-arming defers it, active keys stay silent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Long, java.sql.Timestamp)]
      def t(hm: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $hm:00")
      val out = Streams.userInactivityTimeouts(
        input.toDF().toDF("user_id", "ts"), gapMs = 10 * 60 * 1000L)(spark)
      val q = out.toDF().writeStream.format("memory").queryName("t_inact")
        .outputMode("append").start()
      try {
        def fired() = spark.table("t_inact").collect()
          .map(r => r.getLong(0) -> new java.sql.Timestamp(r.getLong(1)).toString).toSet
        // processAllAvailable runs the trailing no-data batch, so after
        // it returns every timer at or below the NEW watermark has fired
        input.addData((1L, t("10:00")), (2L, t("10:05")))
        q.processAllAvailable() // watermark (delay 0) = 10:05 < both deadlines
        assert(fired() == Set.empty, "no timer can fire before the watermark passes a deadline")
        input.addData((2L, t("10:30"))) // re-arms user 2: deadline 10:15 -> 10:40
        q.processAllAvailable() // wm 10:30: u1's 10:10 fires; u2's re-armed 10:40 does not
        assert(fired() == Set(1L -> "2024-01-01 10:00:00.0"),
          "idle user 1 fires; the re-arm must defer user 2 past the old 10:15 deadline")
        input.addData((3L, t("11:30")))
        q.processAllAvailable() // wm 11:30: u2's 10:40 fires with its RE-ARMED lastSeen; u3's 11:40 not yet
        val f = fired()
        assert(f == Set(1L -> "2024-01-01 10:00:00.0", 2L -> "2024-01-01 10:30:00.0"),
          s"user 2 fires once with the re-armed lastSeen (not the original 10:05); user 3 is inside its gap: $f")
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("rate source produces rows under AvailableNow") {
    val q = Streams.rateSource(spark, rowsPerSecond = 100)
      .writeStream.format("memory").queryName("t_rate")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .start()
    try {
      var waited = 0
      while (spark.table("t_rate").isEmpty && waited < 15000) {
        Thread.sleep(500); waited += 500
      }
      assert(!spark.table("t_rate").isEmpty, "rate source produced no rows in 15s")
      assert(spark.table("t_rate").columns.toSet == Set("timestamp", "value"))
    } finally q.stop()
  }

  test("flatMapGroupsWithState error-burst detector matches a batch reference fold") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_burst_stream")
    Files.copy(Paths.get(s"$sf/events.parquet"), dir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val stream = eventsFileStream(dir.toString)
    val q = Streams.errorBursts(stream.toDF(), threshold = 3)(spark)
      .toDF().writeStream.format("memory").queryName("t_burst")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    // batch reference: same fold over event_id-ordered rows per user
    val rows = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1)
    val expected = rows.toSeq.flatMap { case (uid, evs) =>
      var streak = 0L
      val out = Seq.newBuilder[(Long, Long)]
      evs.sortBy(_._2).foreach { e =>
        if (e._3 == "error") streak += 1
        else { if (streak >= 3) out += (uid -> streak); streak = 0L }
      }
      out.result()
    }.groupBy(identity).view.mapValues(_.size).toMap
    val got = spark.table("t_burst").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(got == expected)
    assert(got.nonEmpty, "fixture should contain at least one 3+ error burst")
  }

  test("stream-stream interval join matches the batch join on the same predicate") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_ss_join")
    Files.copy(Paths.get(s"$sf/events.parquet"), dir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val stream = eventsFileStream(dir.toString)
    val q = Streams.clickErrorJoin(stream)
      .writeStream.format("memory").queryName("t_ssjoin")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("t_ssjoin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ev = graft.sources.Tables.events(spark, sf)
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"), col("ts").as("c_ts"))
    val e = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("event_id").as("error_id"), col("ts").as("e_ts"))
    val expected = e.join(c,
        col("e_user") === col("c_user") &&
          col("c_ts") <= col("e_ts") &&
          col("c_ts") >= col("e_ts") - expr("INTERVAL 30 minutes"))
      .select(col("e_user"), col("error_id"), col("click_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
    assert(got.nonEmpty, "fixture should contain click-before-error pairs")
  }

  test("stream-stream LEFT OUTER join emits unmatched errors with null click") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_ss_outer")
    Files.copy(Paths.get(s"$sf/events.parquet"), dir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val stream = eventsFileStream(dir.toString)
    val q = Streams.clickErrorJoin(stream, joinType = "left_outer")
      .writeStream.format("memory").queryName("t_ss_outer")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("t_ss_outer").collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .toSet
    // batch reference with the same predicate and join type
    val ev = graft.sources.Tables.events(spark, sf)
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"), col("ts").as("c_ts"))
    val e = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("event_id").as("error_id"), col("ts").as("e_ts"))
    val expected = e.join(c,
        col("e_user") === col("c_user") &&
          col("c_ts") <= col("e_ts") &&
          col("c_ts") >= col("e_ts") - expr("INTERVAL 30 minutes"),
        "left_outer")
      .select(col("e_user"), col("error_id"), col("click_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .toSet
    // unmatched rows emit only once the watermark passes e_ts + lookback;
    // errors inside the final horizon legitimately never flush at
    // end-of-stream — compare the provably-flushed region
    val errTs = e.select(col("error_id"), col("e_ts")).collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap
    val horizon = errTs.values.max - (90 * 60 * 1000L) // watermark 1h + lookback 30m
    def flushed(s: Set[(Long, Long, Long)]) = s.filter(t => errTs(t._2) < horizon)
    assert(flushed(got) == flushed(expected))
    assert(got.exists(_._3 == -1L), "some errors should have no click within the lookback")
    assert(got.exists(_._3 != -1L), "some errors should match a click")
  }

  test("restart from the same checkpoint resumes offsets, no reprocessing (A9)") {
    import java.nio.file.Files
    val src = Files.createTempDirectory("graft_restart_src")
    val ckpt = Files.createTempDirectory("graft_restart_ckpt").toString
    val sink = Files.createTempDirectory("graft_restart_sink").toString
    val half = Fixture.jsonLines.size / 2
    Files.write(src.resolve("a.json"), Fixture.jsonLines.take(half).mkString("\n").getBytes)
    def runOnce(): Unit = {
      val q = spark.readStream.schema(Envelope.schema).json(src.toString)
        .transform(Envelope.project)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    val afterA = spark.read.parquet(sink).count()
    Files.write(src.resolve("b.json"), Fixture.jsonLines.drop(half).mkString("\n").getBytes)
    runOnce()
    val all = spark.read.parquet(sink)
    assert(all.count() == Fixture.rowEvents.size,
      "second run must process exactly the new file — offsets resumed, nothing replayed")
    assert(all.select("lsn").distinct().count() == all.count(), "no duplicated events")
    assert(afterA > 0 && afterA < Fixture.rowEvents.size)
  }

  test("late rows behind the watermark are dropped from append-mode windowed counts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    def t(hm: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $hm:00")
    val counts = input.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("k"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("ws"), col("k"), col("cnt"))
    val q = counts.writeStream.format("memory").queryName("t_late")
      .outputMode("append").start()
    try {
      input.addData((t("10:00"), "a"), (t("10:02"), "a"), (t("10:30"), "a"))
      q.processAllAvailable() // max event time 10:30 -> next watermark 10:20
      input.addData((t("10:01"), "a"), (t("10:40"), "a")) // 10:01 behind watermark
      q.processAllAvailable() // closes [10:00,10:05): late row must not count
      input.addData((t("11:30"), "a"))
      q.processAllAvailable()
      val rows = spark.table("t_late").collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(2))).toMap
      assert(rows("2024-01-01 10:00:00.0") == 2L,
        s"late 10:01 row should have been dropped by the watermark: $rows")
    } finally q.stop()
  }

  test("complete output mode re-emits full aggregation state every batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val counts = input.toDF().toDF("id", "k")
      .groupBy(col("k")).agg(count(lit(1)).as("cnt"))
    val q = counts.writeStream.format("memory").queryName("t_complete")
      .outputMode("complete").start()
    try {
      input.addData((1L, "a"), (2L, "a"), (3L, "b"))
      q.processAllAvailable()
      val r1 = spark.table("t_complete").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(r1 == Map("a" -> 2L, "b" -> 1L))
      input.addData((4L, "b"))
      q.processAllAvailable()
      val r2 = spark.table("t_complete").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(r2 == Map("a" -> 2L, "b" -> 2L),
        "complete mode must re-emit updated totals, not deltas")
    } finally q.stop()
  }

  test("snapshot-then-stream: stream images win on overlap, snapshot-only keys survive") {
    val snapshot = Seq(
      (1000L, "Snap", "Shot", "1970-01-01", 1),   // key not in stream -> survives
      (0L, "Old", "Image", "1970-01-01", 1))      // key 0 exists in stream -> overwritten
      .toDF("id", "firstName", "lastName", "dateOfBirth", "status")
      .withColumn("dateOfBirth", col("dateOfBirth").cast("date"))
    val changes = Envelope.project(
      spark.read.schema(Envelope.schema).json(Fixture.materialize()))
    val merged = Streams.snapshotThenStream(snapshot, changes)
    val streamFinal = Envelope.lastImageByKey(changes)
    // expected: stream-final state, plus snapshot rows whose keys the
    // stream never touched (id 0 IS touched -> its snapshot image must
    // NOT survive, even if the stream's last event deleted it).
    val touched = changes.select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(touched.contains(0L) && !touched.contains(1000L), "fixture precondition")
    val expected = streamFinal.unionByName(
      snapshot.filter(!col("id").isin(touched.toSeq: _*)))
    assert(merged.exceptAll(expected).isEmpty && expected.exceptAll(merged).isEmpty)
  }

  test("snapshot-then-SCD2: seeded history obeys the interval laws and its live slice equals the last-image seeding fold") {
    val snapshot = Seq(
      (1000L, "Snap", "Shot", "1970-01-01", 1),   // key not in stream -> one open interval at LSN 0
      (0L, "Old", "Image", "1970-01-01", 1))      // key 0 churns in the stream
      .toDF("id", "firstName", "lastName", "dateOfBirth", "status")
      .withColumn("dateOfBirth", col("dateOfBirth").cast("date"))
    val changes = Envelope.project(
      spark.read.schema(Envelope.schema).json(Fixture.materialize()))
    val hist = Streams.snapshotThenScd2(snapshot, changes).persist()
    try {
      // law 1: every snapshot-seeded key's FIRST interval opens at LSN 0
      val firsts = hist.groupBy(col("id")).agg(min(col("valid_from")).as("vf0"))
        .filter(col("id").isin(0L, 1000L)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(firsts == Map(0L -> 0L, 1000L -> 0L),
        s"seeded keys must open their history at canonical LSN zero, got $firsts")
      // law 2: an untouched key is exactly one open interval with the snapshot image
      val untouched = hist.filter(col("id") === 1000L).collect()
      assert(untouched.length == 1 && untouched.head.getAs[Int]("is_current") == 1 &&
        untouched.head.getAs[String]("firstName") == "Snap",
        "a key the stream never touches must be one open snapshot-image interval")
      // law 3: at most one open interval per key; closed intervals chain
      assert(hist.filter(col("is_current") === 1).groupBy(col("id")).count()
        .filter(col("count") > 1).isEmpty, "at most one open interval per key")
      // law 4: the as-of(max) slice equals snapshotThenStream's fold of
      // the SAME inputs — the seeded history's live edge cannot drift
      // from the seeded last-image state
      val live = Envelope.scd2AsOf(hist, Long.MaxValue)
      val expected = Streams.snapshotThenStream(snapshot, changes)
      assert(live.exceptAll(expected).isEmpty && expected.exceptAll(live).isEmpty,
        "scd2AsOf(max) over the seeded history must equal the snapshot-then-stream fold")
    } finally hist.unpersist()
  }

  test("snapshot-then-stream: raw wire LSN changes still beat the snapshot sentinel") {
    // the sentinel '00000000/00000000' is only below CANONICAL LSNs —
    // a raw wire LSN ('0/10') sorts BELOW it ('/' < '0'), so changes
    // from a caller that skipped Envelope.project would silently all
    // lose to the snapshot; snapshotThenStream re-canonicalizes
    // (idempotent for already-canonical LSNs) instead
    val snapshot = Seq((0L, "Old")).toDF("id", "firstName")
    val changes = Seq(("0/10", "update", 0L, "New"))
      .toDF("lsn", "tag", "id", "firstName")
    val merged = Streams.snapshotThenStream(snapshot, changes)
    val r = merged.collect()
    assert(r.length == 1 && r.head.getString(r.head.fieldIndex("firstName")) == "New",
      "a raw wire LSN must order ABOVE the snapshot sentinel")
    // and a malformed LSN fails loudly instead of sorting as garbage
    val bad = Seq(("not-an-lsn", "update", 0L, "X")).toDF("lsn", "tag", "id", "firstName")
    val e = intercept[Exception] {
      Streams.snapshotThenStream(snapshot, bad).collect()
    }
    def msgs(t: Throwable): String = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString("\n")
    assert(msgs(e).contains("malformed LSN"), msgs(e))
  }

  test("snapshot-then-stream: a snapshot with raw database column names is refused, not silently null-filled") {
    // Jdbc.snapshot returns the remote casing (FIRST_NAME on Derby);
    // against the projection's camelCase names that resolves ZERO
    // payload columns, so every one would be replaced by lit(null) —
    // an all-null seed with only the key intact (the key resolves
    // case-insensitively, masking the break). The naming mismatch must
    // fail loudly; dropping a column the stream legitimately no longer
    // carries stays covered by the drift test below.
    val rawNamed = Seq((1000L, "Snap", "Shot"))
      .toDF("id", "FIRST_NAME", "LAST_NAME")
    val changes = Envelope.project(
      spark.read.schema(Envelope.schema).json(Fixture.materialize()))
    val e = intercept[IllegalArgumentException] {
      Streams.snapshotThenStream(rawNamed, changes)
    }
    assert(e.getMessage.contains("FIRST_NAME") && e.getMessage.contains("rename"),
      e.getMessage)
  }

  test("snapshot-then-stream across a schema drift: pre-drift snapshot null-fills the drifted column, stream images carry it") {
    import org.apache.spark.sql.types._
    // a snapshot taken BEFORE the drift (no email) unioned with
    // post-drift changes (email present): snapshot-only keys survive
    // with NULL email, stream-touched keys take the stream image
    val snapshot = Seq((1000L, "Snap", "Shot", "1970-01-01", 1))
      .toDF("id", "firstName", "lastName", "dateOfBirth", "status")
      .withColumn("dateOfBirth", col("dateOfBirth").cast("date"))
    val widened = StructType(Envelope.schema.fields.map {
      case f if f.name == "new" =>
        f.copy(dataType = f.dataType.asInstanceOf[StructType].add("email", StringType))
      case f => f
    })
    val changes = Envelope.project(
      spark.read.schema(widened).json(Fixture.materialize()))
    assert(changes.columns.contains("email"))
    val merged = Streams.snapshotThenStream(snapshot, changes)
    assert(merged.columns.contains("email"), "union schema must carry the drifted column")
    val snapRow = merged.filter(col("id") === 1000L).collect()
    assert(snapRow.length == 1 && snapRow.head.isNullAt(snapRow.head.fieldIndex("email")),
      "pre-drift snapshot rows null-fill the drifted column")
    assert(merged.count() == Streams.snapshotThenStream(
      snapshot, Envelope.project(
        spark.read.schema(Envelope.schema).json(Fixture.materialize()))).count(),
      "drift must not change which keys survive")
  }

  test("materializeCdc keeps a queryable state table current across micro-batches (A8+A9 end-to-end)") {
    val in = Fixture.materializeChunks(5)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_mat_ckpt").toString
    val state = java.nio.file.Files.createTempDirectory("graft_mat").toString + "/students"
    val q = Streams.materializeCdc(
      Streams.envelopeStream(spark, in), ckpt, state)
    q.awaitTermination()
    val got = spark.read.parquet(state)
    // the incrementally-merged state must equal the batch replay (q19 path)
    val expected = Envelope.lastImageByKey(Envelope.project(
      spark.read.schema(Envelope.schema).json(in)))
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "incremental MERGE state must equal last-image batch replay")
    // restart on the same checkpoint: nothing new to process, state unchanged
    val before = got.orderBy("id").collect().toSeq
    Streams.materializeCdc(Streams.envelopeStream(spark, in), ckpt, state)
      .awaitTermination()
    val after = spark.read.parquet(state).orderBy("id").collect().toSeq
    assert(after == before, "restart with no new data must not change the state")
  }

  test("materializeCdc recovers a completed swap dir after a crash inside the state swap") {
    import java.nio.file.Files
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("graft_crash_in")
    val lines = Fixture.jsonLines
    val (phase1, phase2) = lines.splitAt(lines.size / 2)
    val now = System.currentTimeMillis()
    def writeChunk(name: String, ls: Seq[String], mtime: Long): Unit = {
      val f = dir.resolve(name)
      Files.write(f, ls.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f.toFile.setLastModified(mtime)
    }
    writeChunk("chunk_0000.jsonl", phase1, now - 60000L)
    val ckpt = Files.createTempDirectory("graft_crash_ckpt").toString
    val stateDir = Files.createTempDirectory("graft_crash_state").toString
    val state = stateDir + "/students"
    Streams.materializeCdc(Streams.envelopeStream(spark, dir.toString), ckpt, state)
      .awaitTermination()
    // a clean run must leave no __swap_*/__prev artifacts next to the state
    assert(new java.io.File(stateDir).list().toSeq == Seq("students"),
      "clean run must leave only the state dir")
    // Simulate the crash window: the old state was renamed aside for the
    // swap but the process died before the replacement landed — all that
    // survives on disk is a COMPLETED swap dir (its parquet commit wrote
    // _SUCCESS). Before the recovery fix, the next batch saw no state and
    // silently rebuilt it from that batch's keys alone.
    val fs = new Path(state).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new Path(state), new Path(state + "__swap_999"))
    assert(!fs.exists(new Path(state)) &&
      fs.exists(new Path(state + "__swap_999", "_SUCCESS")), "crash simulation precondition")
    // new data arrives; the restarted stream must promote the swap before merging
    writeChunk("chunk_0001.jsonl", phase2, now - 30000L)
    Streams.materializeCdc(Streams.envelopeStream(spark, dir.toString), ckpt, state)
      .awaitTermination()
    val got = spark.read.parquet(state)
    val expected = Envelope.lastImageByKey(Envelope.project(
      spark.read.schema(Envelope.schema).json(dir.toString)))
    assert(got.count() == expected.count(),
      "state rebuilt after a mid-swap crash must contain ALL keys, not just the new batch's")
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
    assert(new java.io.File(stateDir).list().toSeq == Seq("students"),
      "recovery must sweep swap/prev artifacts")
  }

  test("a swap rename returning false aborts the batch BEFORE its checkpoint commit; restart replays and lands it") {
    import java.nio.file.Files
    import org.apache.hadoop.fs.Path
    // Hadoop FileSystems report many failures by returning false, not
    // throwing. Unchecked, the batch would "succeed", the checkpoint
    // would commit, and the next batch's recovery would sweep the
    // completed swap: that batch's changes gone with no replay. This
    // pins the guard's FALSE path end-to-end through a fail-injecting
    // FS — the happy path alone doesn't prove the no-data-loss claim.
    spark.sparkContext.hadoopConfiguration
      .set("fs.failfs.impl", classOf[FailOnceFs].getName)
    val src = Files.createTempDirectory("graft_failfs_in")
    val lines = Fixture.jsonLines
    val (phase1, phase2) = lines.splitAt(lines.size / 2)
    val now = System.currentTimeMillis()
    def writeChunk(name: String, ls: Seq[String], mtime: Long): Unit = {
      val f = src.resolve(name)
      Files.write(f, ls.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f.toFile.setLastModified(mtime)
    }
    writeChunk("chunk_0000.jsonl", phase1, now - 60000L)
    val ckpt = Files.createTempDirectory("graft_failfs_ckpt").toString
    val stateDir = Files.createTempDirectory("graft_failfs_state").toString
    val state = s"failfs://$stateDir/students"
    def commits: Seq[String] =
      Option(new java.io.File(ckpt, "commits").list()).map(_.toSeq).getOrElse(Seq.empty)
        .filterNot(_.startsWith(".")).sorted
    // batch 0 lands cleanly on the failfs state path
    Streams.materializeCdc(Streams.envelopeStream(spark, src.toString), ckpt, state)
      .awaitTermination()
    assert(commits == Seq("0"), s"batch 0 must commit cleanly, got $commits")
    // batch 1: the final tmp -> state rename reports false
    writeChunk("chunk_0001.jsonl", phase2, now - 30000L)
    FailOnceFs.armedDstName.set("students")
    try {
      val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        Streams.materializeCdc(Streams.envelopeStream(spark, src.toString), ckpt, state)
          .awaitTermination()
      }
      assert(failed.getMessage.contains("returned false"), failed.getMessage)
    } finally FailOnceFs.armedDstName.set(null)
    assert(commits == Seq("0"),
      s"the failed batch must NOT reach its checkpoint commit, got $commits")
    val fs = new Path(state).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(state)),
      "crash point: old state renamed aside, replacement rename failed")
    // restart with the fault cleared: recovery promotes a recoverable
    // dir, the uncommitted batch replays, the MERGE lands idempotently
    Streams.materializeCdc(Streams.envelopeStream(spark, src.toString), ckpt, state)
      .awaitTermination()
    assert(commits == Seq("0", "1"), s"replayed batch must now commit, got $commits")
    val got = spark.read.parquet(state)
    val expected = Envelope.lastImageByKey(Envelope.project(
      spark.read.schema(Envelope.schema).json(src.toString)))
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "state after fault + replay must equal the exactly-once result")
    assert(new java.io.File(stateDir).list().toSeq == Seq("students"),
      "recovery must sweep swap/prev artifacts")
  }

  test("a cleanup delete returning false also aborts and replays idempotently (swap already landed)") {
    import java.nio.file.Files
    import org.apache.hadoop.fs.Path
    // Third crash point of the swap: both renames landed (state IS the
    // post-batch result) but the trailing delete of the renamed-aside
    // __prev dir reports false. The code claims this abort-and-replay
    // is safe because recovery just sweeps prev and the replay is
    // idempotent — pin it.
    spark.sparkContext.hadoopConfiguration
      .set("fs.failfs.impl", classOf[FailOnceFs].getName)
    val src = Files.createTempDirectory("graft_faildel_in")
    val lines = Fixture.jsonLines
    val (phase1, phase2) = lines.splitAt(lines.size / 2)
    val now = System.currentTimeMillis()
    def writeChunk(name: String, ls: Seq[String], mtime: Long): Unit = {
      val f = src.resolve(name)
      Files.write(f, ls.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f.toFile.setLastModified(mtime)
    }
    writeChunk("chunk_0000.jsonl", phase1, now - 60000L)
    val ckpt = Files.createTempDirectory("graft_faildel_ckpt").toString
    val stateDir = Files.createTempDirectory("graft_faildel_state").toString
    val state = s"failfs://$stateDir/students"
    def commits: Seq[String] =
      Option(new java.io.File(ckpt, "commits").list()).map(_.toSeq).getOrElse(Seq.empty)
        .filterNot(_.startsWith(".")).sorted
    Streams.materializeCdc(Streams.envelopeStream(spark, src.toString), ckpt, state)
      .awaitTermination()
    assert(commits == Seq("0"))
    writeChunk("chunk_0001.jsonl", phase2, now - 30000L)
    FailOnceFs.armedDeleteName.set("students__prev")
    try {
      val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        Streams.materializeCdc(Streams.envelopeStream(spark, src.toString), ckpt, state)
          .awaitTermination()
      }
      assert(failed.getMessage.contains("returned false"), failed.getMessage)
    } finally FailOnceFs.armedDeleteName.set(null)
    assert(commits == Seq("0"), "the failed batch must not commit")
    val fs = new Path(state).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new Path(state)) && fs.exists(new Path(state + "__prev")),
      "crash point: swap landed, stale prev dir still present")
    Streams.materializeCdc(Streams.envelopeStream(spark, src.toString), ckpt, state)
      .awaitTermination()
    assert(commits == Seq("0", "1"))
    val got = spark.read.parquet(state)
    val expected = Envelope.lastImageByKey(Envelope.project(
      spark.read.schema(Envelope.schema).json(src.toString)))
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "replay onto the already-swapped state must be idempotent")
    assert(new java.io.File(stateDir).list().toSeq == Seq("students"),
      "recovery must sweep the stale prev dir")
  }

  test("lost checkpoint commit AFTER a completed swap: restart replays the batch idempotently") {
    import java.nio.file.Files
    // The other half of the crash matrix (the swap-crash test covers
    // swap-incomplete): the swap fully landed — state IS the post-batch
    // result — but the process died before the offset commit was
    // written. The replayed batch merges the same reduced change set
    // into the post-batch state; the ordered full-image merge
    // ([[Merge.upsertFullImages]]: one state scan, `state ⋉̸ touched
    // keys ∪ images`) must make that a no-op for exactly-once-equivalent
    // output. (Partial images would take the two-scan join shape.)
    val in = Fixture.materializeChunks(3)
    val ckpt = Files.createTempDirectory("graft_lostcommit_ckpt").toString
    val stateDir = Files.createTempDirectory("graft_lostcommit_state").toString
    val state = stateDir + "/students"
    Streams.materializeCdc(Streams.envelopeStream(spark, in), ckpt, state)
      .awaitTermination()
    // awaitTermination returns on TERMINATED state, slightly before the
    // manager releases the checkpoint registration — quiesce before
    // reopening the same checkpoint or the restart is rejected as a
    // concurrent query
    var waited = 0
    while (spark.streams.active.nonEmpty && waited < 10000) {
      Thread.sleep(100); waited += 100
    }
    val expected = Envelope.lastImageByKey(Envelope.project(
      spark.read.schema(Envelope.schema).json(in)))
    val commitsDir = new java.io.File(ckpt, "commits")
    def commits = commitsDir.list().toSeq.filterNot(_.startsWith(".")).sorted
    val before = commits
    assert(before.size >= 2, s"need multiple batches to lose one, got $before")
    val newest = commitsDir.listFiles().filterNot(_.getName.startsWith("."))
      .maxBy(_.getName.toLong)
    assert(newest.delete(), s"could not delete $newest")
    // a real crash loses the local-FS checksum shadow with the file; an
    // orphaned .N.crc would fail the rewrite, which is a ChecksumFs
    // artifact, not a recovery behavior
    new java.io.File(commitsDir, s".${newest.getName}.crc").delete()
    Streams.materializeCdc(Streams.envelopeStream(spark, in), ckpt, state)
      .awaitTermination()
    assert(commits == before, "the replayed batch must re-commit")
    val got = spark.read.parquet(state)
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "replay onto the post-batch state must be idempotent (exactly-once result)")
    assert(new java.io.File(stateDir).list().toSeq == Seq("students"),
      "replay must leave no swap/prev artifacts")
  }

  test("materializeCdc(orderedTransport=false): reverse-LSN batch delivery still converges via LSN CAS") {
    import java.nio.file.Files
    // Kafka/Event Hub deliver in order per partition; a multi-partition
    // or retrying transport does not. CAS mode keeps each key's winning
    // LSN (deletes as tombstones) so an older image can never overwrite
    // a newer one — delivered here in maximally wrong (reverse) order.
    val lines = Fixture.jsonLines
    val chunks = lines.grouped(math.max(1, lines.size / 5)).toVector
    val dir = Files.createTempDirectory("graft_ooo_in")
    val t0 = System.currentTimeMillis() - 2000L * (chunks.size + 1)
    chunks.indices.reverse.zipWithIndex.foreach { case (ci, pos) =>
      val f = dir.resolve(f"chunk_$ci%04d.jsonl")
      Files.write(f, chunks(ci).mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f.toFile.setLastModified(t0 + pos * 2000L)
    }
    val ckpt = Files.createTempDirectory("graft_ooo_ckpt").toString
    val state = Files.createTempDirectory("graft_ooo_state").toString + "/students"
    Streams.materializeCdc(Streams.envelopeStream(spark, dir.toString), ckpt, state,
      orderedTransport = false).awaitTermination()
    val got = Streams.cdcLiveState(spark, state)
    val expected = Envelope.lastImageByKey(Envelope.project(
      spark.read.schema(Envelope.schema).json(dir.toString)))
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "CAS state must equal the last-image replay regardless of arrival order")
    // teeth: the ordered-transport merge applied to the SAME reversed
    // delivery must diverge — otherwise this input never exercised
    // out-of-order application at all
    val ckpt2 = Files.createTempDirectory("graft_ooo_ckpt2").toString
    val state2 = Files.createTempDirectory("graft_ooo_state2").toString + "/students"
    Streams.materializeCdc(Streams.envelopeStream(spark, dir.toString), ckpt2, state2)
      .awaitTermination()
    val ordered = spark.read.parquet(state2)
    assert(ordered.exceptAll(expected).count() + expected.exceptAll(ordered).count() > 0,
      "precondition: reverse delivery must matter to an order-assuming merge")
  }

  test("additive schema drift: restart with a widened envelope schema widens the state, null-filling pre-drift history") {
    import java.nio.file.Files
    import org.apache.spark.sql.types._
    // The reference's relation message announces schema changes and is
    // filtered out; the consumer's reaction is a restart with a widened
    // read schema. The state table must widen in place: rows last
    // touched before the drift carry null for the new column.
    val dir = Files.createTempDirectory("graft_drift_in")
    val ckpt = Files.createTempDirectory("graft_drift_ckpt").toString
    val state = Files.createTempDirectory("graft_drift_state").toString + "/students"
    var mtime = System.currentTimeMillis() - 120000L
    var chunkNo = 0
    def deliver(lines: String*): Unit = {
      val f = dir.resolve(f"chunk_$chunkNo%04d.jsonl")
      Files.write(f, lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f.toFile.setLastModified(mtime)
      mtime += 2000L; chunkNo += 1
    }
    def quiesce(): Unit = {
      var waited = 0
      while (spark.streams.active.nonEmpty && waited < 10000) {
        Thread.sleep(100); waited += 100
      }
    }
    def img(id: Long, extra: String = "") =
      s""""new": {"id": $id, "first_name": "fn$id", "last_name": "ln$id", "date_of_birth": "1990-01-01", "status_id": 1$extra}"""
    // pre-drift batch: ids 1 and 2, no email field anywhere
    deliver(
      s"""{"lsn": "0/00000010", "tag": "insert", "table": "students", ${img(1L)}}""",
      s"""{"lsn": "0/00000020", "tag": "insert", "table": "students", ${img(2L)}}""")
    Streams.materializeCdc(Streams.envelopeStream(spark, dir.toString), ckpt, state)
      .awaitTermination()
    quiesce()
    assert(!spark.read.parquet(state).columns.contains("email"))
    // drift: later chunks carry new.email; the consumer restarts the
    // SAME checkpoint with the widened schema
    deliver(
      s"""{"lsn": "0/00000030", "tag": "update", "table": "students", ${img(2L, """, "email": "two@x"""")}}""",
      s"""{"lsn": "0/00000040", "tag": "insert", "table": "students", ${img(3L, """, "email": "three@x"""")}}""")
    val widened = StructType(Envelope.schema.fields.map {
      case f if f.name == "new" =>
        f.copy(dataType = f.dataType.asInstanceOf[StructType].add("email", StringType))
      case f => f
    })
    Streams.materializeCdc(
      Streams.envelopeStream(spark, dir.toString, schema = widened), ckpt, state)
      .awaitTermination()
    quiesce()
    val got = spark.read.parquet(state)
    assert(got.columns.contains("email"), "state must carry the union schema after drift")
    val byId = got.collect().map(r => r.getLong(r.fieldIndex("id")) ->
      Option(r.getAs[String]("email"))).toMap
    assert(byId == Map(1L -> None, 2L -> Some("two@x"), 3L -> Some("three@x")),
      s"pre-drift rows null-filled, post-drift rows carry the new column: $byId")
    // the widened batch replay is the same union-schema result
    val expected = Envelope.lastImageByKey(Envelope.project(
      spark.read.schema(widened).json(dir.toString)))
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("numeric TYPE drift: an int->bigint column migration widens the state column, values preserved") {
    import java.nio.file.Files
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_tdrift_in")
    val ckpt = Files.createTempDirectory("graft_tdrift_ckpt").toString
    val state = Files.createTempDirectory("graft_tdrift_state").toString + "/students"
    var mtime = System.currentTimeMillis() - 120000L
    var chunkNo = 0
    def deliver(lines: String*): Unit = {
      val f = dir.resolve(f"chunk_$chunkNo%04d.jsonl")
      Files.write(f, lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f.toFile.setLastModified(mtime)
      mtime += 2000L; chunkNo += 1
    }
    def quiesce(): Unit = {
      var waited = 0
      while (spark.streams.active.nonEmpty && waited < 10000) {
        Thread.sleep(100); waited += 100
      }
    }
    def img(id: Long, status: Long) =
      s""""new": {"id": $id, "first_name": "fn$id", "last_name": "ln$id", "date_of_birth": "1990-01-01", "status_id": $status}"""
    deliver(s"""{"lsn": "0/00000010", "tag": "insert", "table": "students", ${img(1L, 1L)}}""")
    Streams.materializeCdc(Streams.envelopeStream(spark, dir.toString), ckpt, state)
      .awaitTermination()
    quiesce()
    assert(spark.read.parquet(state).schema("status").dataType == IntegerType)
    // the producer ran ALTER COLUMN status_id TYPE BIGINT; the consumer
    // restarts with the widened read schema and a value beyond int range
    deliver(s"""{"lsn": "0/00000020", "tag": "insert", "table": "students", ${img(2L, 4000000000L)}}""")
    val widened = StructType(Envelope.schema.fields.map {
      case f if f.name == "new" =>
        f.copy(dataType = StructType(f.dataType.asInstanceOf[StructType].fields.map {
          case g if g.name == "status_id" => g.copy(dataType = LongType)
          case g => g
        }))
      case f => f
    })
    Streams.materializeCdc(
      Streams.envelopeStream(spark, dir.toString, schema = widened), ckpt, state)
      .awaitTermination()
    quiesce()
    val got = spark.read.parquet(state)
    assert(got.schema("status").dataType == LongType,
      s"state column must widen to the migrated type, got ${got.schema("status").dataType}")
    val byId = got.collect().map(r => r.getLong(r.fieldIndex("id")) ->
      r.getLong(r.fieldIndex("status"))).toMap
    assert(byId == Map(1L -> 1L, 2L -> 4000000000L),
      s"pre-drift values survive the upcast, post-drift values exceed int range: $byId")
  }

  test("additive schema drift in CAS mode: identical-columns merge is satisfied by symmetric null-fill") {
    import java.nio.file.Files
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_driftcas_in")
    val ckpt = Files.createTempDirectory("graft_driftcas_ckpt").toString
    val state = Files.createTempDirectory("graft_driftcas_state").toString + "/students"
    var mtime = System.currentTimeMillis() - 120000L
    var chunkNo = 0
    def deliver(lines: String*): Unit = {
      val f = dir.resolve(f"chunk_$chunkNo%04d.jsonl")
      Files.write(f, lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f.toFile.setLastModified(mtime)
      mtime += 2000L; chunkNo += 1
    }
    def quiesce(): Unit = {
      var waited = 0
      while (spark.streams.active.nonEmpty && waited < 10000) {
        Thread.sleep(100); waited += 100
      }
    }
    def img(id: Long, extra: String = "") =
      s""""new": {"id": $id, "first_name": "fn$id", "last_name": "ln$id", "date_of_birth": "1990-01-01", "status_id": 1$extra}"""
    deliver(s"""{"lsn": "0/00000010", "tag": "insert", "table": "students", ${img(1L)}}""")
    Streams.materializeCdc(Streams.envelopeStream(spark, dir.toString), ckpt, state,
      orderedTransport = false).awaitTermination()
    quiesce()
    val widened = StructType(Envelope.schema.fields.map {
      case f if f.name == "new" =>
        f.copy(dataType = f.dataType.asInstanceOf[StructType].add("email", StringType))
      case f => f
    })
    // post-drift: a newer image for key 1 with email, and an OLDER
    // (stale, reordered) image without effect on it
    deliver(
      s"""{"lsn": "0/00000030", "tag": "update", "table": "students", ${img(1L, """, "email": "one@x"""")}}""",
      s"""{"lsn": "0/00000005", "tag": "update", "table": "students", ${img(1L)}}""")
    Streams.materializeCdc(
      Streams.envelopeStream(spark, dir.toString, schema = widened), ckpt, state,
      orderedTransport = false).awaitTermination()
    quiesce()
    val live = Streams.cdcLiveState(spark, state).collect()
    assert(live.length == 1)
    assert(live.head.getAs[String]("email") == "one@x",
      "the newest post-drift image must win the CAS with its new column intact")
  }

  test("CAS mode, lost checkpoint commit: replaying an out-of-order batch into CAS state is idempotent (equal-version keeps base)") {
    import java.nio.file.Files
    // The ordered-mode lost-commit test replays onto the full-image merge;
    // this replays onto the CAS merge, exercising the path ordered mode
    // never hits: every replayed row meets the state at an EQUAL
    // version, and equal-keeps-base is what makes the replay a no-op.
    // Chunks are delivered in reverse LSN order so the replayed batch
    // is also genuinely out-of-order relative to the state's images.
    val lines = Fixture.jsonLines
    val chunks = lines.grouped(math.max(1, lines.size / 4)).toVector
    val dir = Files.createTempDirectory("graft_caslost_in")
    val t0 = System.currentTimeMillis() - 2000L * (chunks.size + 1)
    chunks.indices.reverse.zipWithIndex.foreach { case (ci, pos) =>
      val f = dir.resolve(f"chunk_$ci%04d.jsonl")
      Files.write(f, chunks(ci).mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f.toFile.setLastModified(t0 + pos * 2000L)
    }
    val ckpt = Files.createTempDirectory("graft_caslost_ckpt").toString
    val stateDir = Files.createTempDirectory("graft_caslost_state").toString
    val state = stateDir + "/students"
    Streams.materializeCdc(Streams.envelopeStream(spark, dir.toString), ckpt, state,
      orderedTransport = false).awaitTermination()
    var waited = 0
    while (spark.streams.active.nonEmpty && waited < 10000) {
      Thread.sleep(100); waited += 100
    }
    val expected = Envelope.lastImageByKey(Envelope.project(
      spark.read.schema(Envelope.schema).json(dir.toString)))
    val commitsDir = new java.io.File(ckpt, "commits")
    def commits = commitsDir.list().toSeq.filterNot(_.startsWith(".")).sorted
    val before = commits
    assert(before.size >= 2, s"need multiple batches to lose one, got $before")
    val newest = commitsDir.listFiles().filterNot(_.getName.startsWith("."))
      .maxBy(_.getName.toLong)
    assert(newest.delete())
    new java.io.File(commitsDir, s".${newest.getName}.crc").delete()
    Streams.materializeCdc(Streams.envelopeStream(spark, dir.toString), ckpt, state,
      orderedTransport = false).awaitTermination()
    assert(commits == before, "the replayed batch must re-commit")
    val got = Streams.cdcLiveState(spark, state)
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "CAS replay must be idempotent: equal versions keep the base images")
    assert(new java.io.File(stateDir).list().toSeq == Seq("students"),
      "replay must leave no swap/prev artifacts")
  }

  test("CAS mode, swap rename returning false: batch aborts before its commit; restart replays the out-of-order batch and converges") {
    import java.nio.file.Files
    import org.apache.hadoop.fs.Path
    // rename-false crash point under orderedTransport=false with
    // out-of-order delivery: the later-LSN half arrives FIRST, the
    // earlier-LSN half second; the second batch's swap rename fails.
    spark.sparkContext.hadoopConfiguration
      .set("fs.failfs.impl", classOf[FailOnceFs].getName)
    val lines = Fixture.jsonLines
    val (early, late) = lines.splitAt(lines.size / 2)
    val src = Files.createTempDirectory("graft_casfail_in")
    val now = System.currentTimeMillis()
    def writeChunk(name: String, ls: Seq[String], mtime: Long): Unit = {
      val f = src.resolve(name)
      Files.write(f, ls.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f.toFile.setLastModified(mtime)
    }
    // reversed delivery: the late-LSN half is batch 0
    writeChunk("chunk_0000.jsonl", late, now - 60000L)
    val ckpt = Files.createTempDirectory("graft_casfail_ckpt").toString
    val stateDir = Files.createTempDirectory("graft_casfail_state").toString
    val state = s"failfs://$stateDir/students"
    def commits: Seq[String] =
      Option(new java.io.File(ckpt, "commits").list()).map(_.toSeq).getOrElse(Seq.empty)
        .filterNot(_.startsWith(".")).sorted
    Streams.materializeCdc(Streams.envelopeStream(spark, src.toString), ckpt, state,
      orderedTransport = false).awaitTermination()
    assert(commits == Seq("0"))
    writeChunk("chunk_0001.jsonl", early, now - 30000L)
    FailOnceFs.armedDstName.set("students")
    try {
      val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        Streams.materializeCdc(Streams.envelopeStream(spark, src.toString), ckpt, state,
          orderedTransport = false).awaitTermination()
      }
      assert(failed.getMessage.contains("returned false"), failed.getMessage)
    } finally FailOnceFs.armedDstName.set(null)
    assert(commits == Seq("0"), "the failed batch must NOT commit")
    val fs = new Path(state).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(state)),
      "crash point: old state renamed aside, replacement rename failed")
    Streams.materializeCdc(Streams.envelopeStream(spark, src.toString), ckpt, state,
      orderedTransport = false).awaitTermination()
    assert(commits == Seq("0", "1"))
    val got = Streams.cdcLiveState(spark, state)
    val expected = Envelope.lastImageByKey(Envelope.project(
      spark.read.schema(Envelope.schema).json(src.toString)))
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "CAS state after fault + replay must equal the last-image result despite reversed delivery")
    assert(new java.io.File(stateDir).list().toSeq == Seq("students"),
      "recovery must sweep swap/prev artifacts")
  }

  test("CAS tombstone GC: inside the horizon a tombstone still blocks resurrection; beyond it it is compacted and state shrinks") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_tomb_in")
    val ckpt = Files.createTempDirectory("graft_tomb_ckpt").toString
    val state = Files.createTempDirectory("graft_tomb_state").toString + "/students"
    var mtime = System.currentTimeMillis() - 120000L
    var chunkNo = 0
    def ins(lsn: String, id: Long) =
      s"""{"lsn": "$lsn", "tag": "insert", "table": "students", "new": {"id": $id, "first_name": "fn$id", "last_name": "ln$id", "date_of_birth": "1990-01-01", "status_id": 1}}"""
    def upd(lsn: String, id: Long, fn: String) =
      s"""{"lsn": "$lsn", "tag": "update", "table": "students", "new": {"id": $id, "first_name": "$fn", "last_name": "ln$id", "date_of_birth": "1990-01-01", "status_id": 1}}"""
    def del(lsn: String, id: Long) =
      s"""{"lsn": "$lsn", "tag": "delete", "table": "students", "old": {"id": $id}}"""
    def deliver(lines: String*): Unit = {
      val f = dir.resolve(f"chunk_$chunkNo%04d.jsonl")
      Files.write(f, lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f.toFile.setLastModified(mtime)
      mtime += 2000L; chunkNo += 1
      Streams.materializeCdc(Streams.envelopeStream(spark, dir.toString), ckpt, state,
        orderedTransport = false, casTombstoneRetention = 1L).awaitTermination()
      var waited = 0
      while (spark.streams.active.nonEmpty && waited < 10000) {
        Thread.sleep(100); waited += 100
      }
    }
    def liveIds() = Streams.cdcLiveState(spark, state)
      .select("id").collect().map(_.getLong(0)).toSet
    def rawCount() = spark.read.parquet(state).count()
    // batch 0: two live keys
    deliver(ins("0/00000010", 1L), ins("0/00000020", 2L))
    assert(liveIds() == Set(1L, 2L) && rawCount() == 2)
    // batch 1: delete key 1 -> tombstone at arrival batch 1
    deliver(del("0/00000100", 1L))
    assert(liveIds() == Set(2L) && rawCount() == 2, "tombstone row must be kept in state")
    // batch 2 (age 1 <= retention 1): a LATE OLDER update for key 1 —
    // the in-horizon tombstone must block resurrection; surviving the
    // CAS must NOT refresh its age (whole-row keeps the delete's stamp)
    deliver(upd("0/00000050", 1L, "zombie"), upd("0/00000200", 2L, "fresh2"))
    assert(liveIds() == Set(2L), "in-horizon tombstone must block the stale update")
    assert(rawCount() == 2)
    // batch 3 (age 2 > retention 1): tombstone compacted away
    deliver(upd("0/00000300", 2L, "fresh3"))
    assert(rawCount() == 1, "expired tombstone must be compacted — state row count shrinks")
    assert(liveIds() == Set(2L))
    // the documented trade past the horizon: with the tombstone gone, a
    // yet-later stale update is indistinguishable from a fresh insert —
    // the horizon must be sized above the transport's reorder window
    deliver(upd("0/00000060", 1L, "revenant"))
    assert(liveIds() == Set(1L, 2L),
      "past the horizon resurrection is the accepted contract, not silent state corruption")
  }

  test("CAS tombstone GC on a pre-upgrade state: unstamped tombstones are backfilled to age from the upgrade batch, not deleted on sight") {
    import java.nio.file.Files
    import org.apache.spark.sql.types._
    // State written before the arrival-batch stamp existed has no
    // __graft_arrival_batch column; widen() null-fills it and the CAS
    // keeps base rows whole, so the NULL persists. A null-blind age
    // filter (`batchId - NULL > retention` is NULL) silently dropped
    // every such tombstone on the FIRST post-upgrade batch — late older
    // updates could then resurrect deleted keys. The fix backfills the
    // stamp with the upgrade batch's id, so the tombstone blocks
    // resurrection through the horizon and compacts only after it.
    val stateSchema = StructType(Seq(
      StructField("id", LongType), StructField("firstName", StringType),
      StructField("lastName", StringType), StructField("dateOfBirth", DateType),
      StructField("status", IntegerType), StructField("lsn", StringType),
      StructField("op", StringType)))
    def preUpgradeState(path: String): Unit = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, null, null, null, null, "0/00000100", "D"),
        org.apache.spark.sql.Row(2L, "fn2", "ln2",
          java.sql.Date.valueOf("1990-01-01"), 1, "0/00000020", "U")),
      stateSchema).write.mode("overwrite").parquet(path)
    def upd(lsn: String, id: Long, fn: String) =
      s"""{"lsn": "$lsn", "tag": "update", "table": "students", "new": {"id": $id, "first_name": "$fn", "last_name": "ln$id", "date_of_birth": "1990-01-01", "status_id": 1}}"""
    def quiesce(): Unit = {
      var waited = 0
      while (spark.streams.active.nonEmpty && waited < 10000) {
        Thread.sleep(100); waited += 100
      }
    }
    def freshCase(): (java.nio.file.Path, String, String) = {
      val dir = Files.createTempDirectory("graft_preup_in")
      val ckpt = Files.createTempDirectory("graft_preup_ckpt").toString
      val state = Files.createTempDirectory("graft_preup_state").toString + "/students"
      preUpgradeState(state)
      (dir, ckpt, state)
    }
    var chunkNo = 0
    def deliver(dir: java.nio.file.Path, ckpt: String, state: String,
        retention: Long, lines: String*): Unit = {
      val f = dir.resolve(f"chunk_$chunkNo%04d.jsonl")
      Files.write(f, lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f.toFile.setLastModified(System.currentTimeMillis() - 120000L + chunkNo * 2000L)
      chunkNo += 1
      Streams.materializeCdc(Streams.envelopeStream(spark, dir.toString), ckpt, state,
        orderedTransport = false, casTombstoneRetention = retention).awaitTermination()
      quiesce()
    }
    // Case 1 — DEFAULT retention (GC 'disabled'): the first post-upgrade
    // batch must not touch the unstamped tombstone at all
    locally {
      val (dir, ckpt, state) = freshCase()
      deliver(dir, ckpt, state, Long.MaxValue,
        upd("0/00000050", 1L, "zombie"), upd("0/00000200", 2L, "fresh2"))
      val live = Streams.cdcLiveState(spark, state).select("id").collect().map(_.getLong(0)).toSet
      assert(live == Set(2L), "unstamped tombstone must still block the stale update")
      assert(spark.read.parquet(state).count() == 2, "tombstone must survive with GC disabled")
    }
    // Case 2 — bounded retention 1: ages from the upgrade batch (0),
    // survives batches 0 and 1, compacts at batch 2
    locally {
      chunkNo = 0
      val (dir, ckpt, state) = freshCase()
      deliver(dir, ckpt, state, 1L, upd("0/00000050", 1L, "zombie"), upd("0/00000200", 2L, "fresh2"))
      assert(spark.read.parquet(state).count() == 2,
        "upgrade batch (age 0) must keep the unstamped tombstone, not delete it on sight")
      assert(Streams.cdcLiveState(spark, state).select("id").collect().map(_.getLong(0)).toSet == Set(2L))
      deliver(dir, ckpt, state, 1L, upd("0/00000210", 2L, "fresh3"))
      assert(spark.read.parquet(state).count() == 2, "age 1 <= retention 1: still kept")
      deliver(dir, ckpt, state, 1L, upd("0/00000220", 2L, "fresh4"))
      assert(spark.read.parquet(state).count() == 1,
        "age 2 > retention 1: backfilled tombstone compacts on schedule")
    }
  }

  test("a NULL event-time row does not crash the inactivity detector; non-null rows still fire") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Long, java.sql.Timestamp)]
      def t(hm: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $hm:00")
      val out = Streams.userInactivityTimeouts(
        input.toDF().toDF("user_id", "ts"), gapMs = 10 * 60 * 1000L)(spark)
      val q = out.toDF().writeStream.format("memory").queryName("t_inact_null")
        .outputMode("append").start()
      try {
        // withWatermark does NOT drop null timestamps — unscreened,
        // rows.map(_._2.getTime).max NPEs inside the stateful operator
        input.addData((1L, t("10:00")), (5L, null.asInstanceOf[java.sql.Timestamp]))
        q.processAllAvailable()
        input.addData((2L, t("11:00")))
        q.processAllAvailable() // wm 11:00 > user 1's 10:10 deadline
        val fired = spark.table("t_inact_null").collect().map(_.getLong(0)).toSet
        assert(fired == Set(1L),
          s"user 1 fires normally; the null-ts row is screened, not a query failure: $fired")
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a drifted payload column named 'op' fails the batch loudly — the reserved-name guard cdcLiveState's mode sniff rests on") {
    import java.nio.file.Files
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_opreserve_in")
    val line =
      s"""{"lsn": "0/00000010", "tag": "insert", "table": "students", "new": {"id": 1, "first_name": "a", "last_name": "b", "date_of_birth": "1990-01-01", "status_id": 1, "op": "x"}}"""
    Files.write(dir.resolve("chunk_0000.jsonl"), line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val widened = StructType(Envelope.schema.fields.map {
      case f if f.name == "new" =>
        f.copy(dataType = f.dataType.asInstanceOf[StructType].add("op", StringType))
      case f => f
    })
    val ckpt = Files.createTempDirectory("graft_opreserve_ckpt").toString
    val state = Files.createTempDirectory("graft_opreserve_state").toString + "/students"
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streams.materializeCdc(
        Streams.envelopeStream(spark, dir.toString, schema = widened), ckpt, state)
        .awaitTermination()
    }
    def msgs(t: Throwable): String = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString("\n")
    assert(msgs(failed).contains("reserves column 'op'"), msgs(failed))
  }

  test("a checkpoint is bound to its sink: reuse against a different state path fails loudly, the original continues") {
    import java.nio.file.Files
    // the checkpoint's offsets mean "already applied" — pointing the
    // same checkpoint at a fresh state path would silently skip every
    // committed batch there (partial state with no error)
    val dir = Files.createTempDirectory("graft_bind_in")
    val ckpt = Files.createTempDirectory("graft_bind_ckpt").toString
    val stateA = Files.createTempDirectory("graft_bind_a").toString + "/students"
    val stateB = Files.createTempDirectory("graft_bind_b").toString + "/students"
    var mtime = System.currentTimeMillis() - 120000L
    var chunkNo = 0
    def deliver(lines: String*): Unit = {
      val f = dir.resolve(f"chunk_$chunkNo%04d.jsonl")
      Files.write(f, lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f.toFile.setLastModified(mtime)
      mtime += 2000L; chunkNo += 1
    }
    def quiesce(): Unit = {
      var waited = 0
      while (spark.streams.active.nonEmpty && waited < 10000) {
        Thread.sleep(100); waited += 100
      }
    }
    def ins(lsn: String, id: Long) =
      s"""{"lsn": "$lsn", "tag": "insert", "table": "students", "new": {"id": $id, "first_name": "fn$id", "last_name": "ln$id", "date_of_birth": "1990-01-01", "status_id": 1}}"""
    deliver(ins("0/00000010", 1L))
    Streams.materializeCdc(Streams.envelopeStream(spark, dir.toString), ckpt, stateA)
      .awaitTermination()
    quiesce()
    deliver(ins("0/00000020", 2L))
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streams.materializeCdc(Streams.envelopeStream(spark, dir.toString), ckpt, stateB)
        .awaitTermination()
    }
    def msgs(t: Throwable): String = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString("\n")
    assert(msgs(failed).contains("bound to sink") && msgs(failed).contains(stateA), msgs(failed))
    quiesce()
    assert(!new org.apache.hadoop.fs.Path(stateB).getFileSystem(
      spark.sparkContext.hadoopConfiguration).exists(new org.apache.hadoop.fs.Path(stateB)),
      "the mis-bound run must not have written the other state path")
    // the rightful binding continues where it left off
    Streams.materializeCdc(Streams.envelopeStream(spark, dir.toString), ckpt, stateA)
      .awaitTermination()
    quiesce()
    assert(Streams.cdcLiveState(spark, stateA).select("id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("recoverCdcState ignores swap-lookalike dirs: no batchId parse crash, no sweep of user data") {
    import java.nio.file.Files
    import org.apache.hadoop.fs.Path
    val stateDir = Files.createTempDirectory("graft_lookalike").toString
    val state = stateDir + "/students"
    val fs = new Path(state).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // A user-made sibling sharing the swap prefix — non-numeric suffix,
    // _SUCCESS and all. Before the numeric-suffix filter, recovery
    // crash-looped every batch start on `.toLong` of "backup", and the
    // post-recovery sweep would have deleted the user's data.
    val backup = new Path(state + "__swap_backup")
    fs.mkdirs(backup)
    fs.create(new Path(backup, "_SUCCESS")).close()
    fs.create(new Path(backup, "keep.parquet")).close()
    // an all-digit suffix LONGER than Long range is a lookalike too:
    // real swap names carry the Long batchId the swap stamped, so this
    // can't be swap-owned — parsing it with a bare .toLong would be the
    // same permanent crash loop the non-numeric filter fixed, and
    // sweeping it would eat user data just the same
    val overflow = new Path(state + "__swap_99999999999999999999")
    fs.mkdirs(overflow)
    fs.create(new Path(overflow, "_SUCCESS")).close()
    fs.create(new Path(overflow, "keep.parquet")).close()
    // plus a genuine completed swap that recovery must still promote
    val swap = new Path(state + "__swap_7")
    fs.mkdirs(swap)
    fs.create(new Path(swap, "_SUCCESS")).close()
    Streams.recoverCdcState(fs, state)
    assert(fs.exists(new Path(state)), "the numeric swap must be promoted to state")
    assert(!fs.exists(swap), "the promoted swap dir must not linger under its swap name")
    for (decoy <- Seq(backup, overflow))
      assert(fs.exists(decoy) && fs.exists(new Path(decoy, "keep.parquet")) &&
        fs.exists(new Path(decoy, "_SUCCESS")),
        s"lookalike dir $decoy must be left byte-for-byte alone")
  }

  test("streaming near-dup: band collisions across micro-batches match the batch band index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // two ingest batches from the fixture corpus, split by id parity
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (b1, b2) = docs.partition(_._1 % 2 == 0)
    val input = MemoryStream[(Long, String)]
    val q = Streams.streamingNearDup(input.toDF().toDF("doc_id", "text"))
      .toDF().writeStream.format("memory").queryName("t_neardup")
      .outputMode(OutputMode.Append()).start()
    val got = try {
      input.addData(b1.toSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toSeq: _*)
      q.processAllAvailable()
      spark.table("t_neardup").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    } finally q.stop()
    // batch reference: compute every doc's two band keys with the SAME
    // expressions, then replay the keeper rule (first ingest batch's
    // min id owns the band; everyone else in the band is a hit)
    import graft.functions.TextFns
    val sig0 = graft.sources.Tables.documents(spark, sf)
      .withColumn("toks", expr(TextFns.tokensExpr("text")))
      .withColumn("sh", expr(TextFns.shinglesExpr("toks")))
      .withColumn("hs", expr(TextFns.md5IntsExpr("sh")))
    val withMh = (0 until 8).foldLeft(sig0)((df, k) =>
      df.withColumn(s"mh$k", expr(TextFns.minhashExpr("hs", k))))
    val bandRows = withMh.select(col("doc_id"), lit(0).as("band_id"),
        concat(col("mh0"), lit("|"), col("mh1"), lit("|"), col("mh2"), lit("|"), col("mh3")).as("band_val"))
      .unionByName(withMh.select(col("doc_id"), lit(1).as("band_id"),
        concat(col("mh4"), lit("|"), col("mh5"), lit("|"), col("mh6"), lit("|"), col("mh7")).as("band_val")))
      .filter(col("band_val").isNotNull)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val expected = bandRows.groupBy(br => (br._2, br._3)).toSeq.flatMap {
      case ((bid, _), ms) =>
        val ids = ms.map(_._1).toSeq
        val firstBatch = ids.filter(_ % 2 == 0)
        val keeper = if (firstBatch.nonEmpty) firstBatch.min else ids.min
        ids.filter(_ != keeper).map(id => (id, bid, keeper))
    }.toSet
    assert(got == expected, s"stream ${got.size} vs batch ${expected.size} hits")
    assert(got.nonEmpty, "fixture plants near-dups; the band index must fire")
    // keeper discipline: a keeper never reports itself
    assert(got.forall { case (id, _, k) => id != k })
  }

  test("streaming near-dup: band state survives a checkpoint restart; cross-restart collisions keep the pre-restart keeper") {
    import java.nio.file.Files
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val srcDir = Files.createTempDirectory("graft_nd_src").toString
    val ckpt = Files.createTempDirectory("graft_nd_ckpt").toString
    val sink = Files.createTempDirectory("graft_nd_sink").toString
    val sch = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    // two near-identical texts (>= 3 tokens → shingles exist), one unique
    val textA = "alpha beta gamma delta epsilon zeta eta theta"
    val textB = "one two three four five six seven eight nine"
    def writeBatch(rows: Seq[(Long, String)]): Unit = {
      import spark.implicits._
      rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(srcDir)
    }
    def runOnce(): Unit = {
      val q = Streams.streamingNearDup(spark.readStream.schema(sch).parquet(srcDir))(spark)
        .toDF().writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // run 1: doc 2 collides with keeper 0 on both bands; doc 5 is unique
    writeBatch(Seq(0L -> textA, 2L -> textA, 5L -> textB))
    runOnce()
    val after1 = spark.read.parquet(sink).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(after1 == Set((2L, 0, 0L), (2L, 1, 0L)),
      s"first run must report doc 2 against keeper 0 on both bands, got $after1")
    // run 2 is a NEW query on the same checkpoint: doc 10's text matches
    // the band state doc 0 claimed BEFORE the restart — detecting it
    // proves the flatMapGroupsWithState store recovered, not recomputed
    writeBatch(Seq(10L -> textA))
    runOnce()
    val after2 = spark.read.parquet(sink).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(after2 == after1 ++ Set((10L, 0, 0L), (10L, 1, 0L)),
      s"restarted query must keep pre-restart keepers and add only doc 10's hits, got $after2")
  }

  test("streaming near-dup horizon: quiet bands age out; a post-eviction duplicate founds a NEW keeper") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    val textA = "alpha beta gamma delta epsilon zeta eta theta"
    val textB = "one two three four five six seven eight nine"
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = Streams.streamingNearDupWithHorizon(
        input.toDF().toDF("doc_id", "text", "ts"), horizonMs = 5000L)
      .toDF().writeStream.format("memory").queryName("t_neardup_h")
      .outputMode(OutputMode.Append()).start()
    def got() = spark.table("t_neardup_h").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    try {
      input.addData((0L, textA, ts(10))); q.processAllAvailable()
      input.addData((2L, textA, ts(12))); q.processAllAvailable()
      assert(got() == Set((2L, 0, 0L), (2L, 1, 0L)),
        "inside the horizon a collision reports the founding keeper")
      // watermark sails past the textA band's (12 s + 5 s) deadline —
      // its keeper entry must be evicted by the event-time timeout
      input.addData((5L, textB, ts(100))); q.processAllAvailable()
      input.addData((6L, textB, ts(101))); q.processAllAvailable()
      val before = got() // includes textB's own (6 -> 5) collisions
      assert((before -- Set((2L, 0, 0L), (2L, 1, 0L))) == Set((6L, 0, 5L), (6L, 1, 5L)))
      input.addData((10L, textA, ts(102))); q.processAllAvailable()
      assert(got() == before,
        "doc 10 must FOUND a new keeper — the textA band state was evicted, not matched")
      input.addData((12L, textA, ts(103))); q.processAllAvailable()
      assert((got() -- before) == Set((12L, 0, 10L), (12L, 1, 10L)),
        "post-eviction collisions report the new keeper, never the evicted one")
    } finally q.stop()
  }

  test("streaming CMS: sketch cells merge by addition across micro-batches") {
    // the SCALE.md §5 claim behind p41 pinned as code: the count-min
    // sketch is the STREAMING frequency structure because its cells
    // are a fixed-key counter agg — Spark's state store sums each
    // micro-batch's partials, so after any prefix of batches the
    // streaming sketch equals the batch sketch of the data so far
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.functions.TextFns
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val depth = graft.queries.Pipeline.cmsDepth
    val width = graft.queries.Pipeline.cmsWidth
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .select(col("big"), explode(array((0 until depth).map(lit): _*)).as("k"))
      .withColumn("bucket", expr(
        s"${TextFns.md5IntScalarExpr("concat(CAST(k AS STRING), ':', big)")} % $width"))
      .groupBy(col("k"), col("bucket")).agg(count(lit(1)).as("cnt"))
    val batches: Seq[Seq[String]] = Seq(
      Seq("a b", "b c", "a b", "c d"),
      Seq("a b", "d e", "b c"),
      Seq("e f", "a b", "c d", "c d"))
    val input = MemoryStream[String]
    val q = cells(input.toDF().toDF("big"))
      .writeStream.format("memory").queryName("t_cms")
      .outputMode(OutputMode.Complete()).start()
    def got() = spark.table("t_cms").collect()
      .map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
    try {
      var seen = Seq.empty[String]
      for (b <- batches) {
        input.addData(b: _*); q.processAllAvailable()
        seen ++= b
        val want = cells(seen.toDF("big")).collect()
          .map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
        assert(got() == want,
          s"after ${seen.size} bigrams the streaming sketch must equal the batch sketch")
        assert(got().values.sum == depth.toLong * seen.size,
          "every instance lands in exactly one cell per hash row")
      }
    } finally q.stop()
  }

  test("streaming HLL: registers merge by max across micro-batches") {
    // p43's merge law as streaming code: the register agg is a
    // fixed-key MAX, so Spark's state store folds each micro-batch in
    // and the streaming registers always equal the batch registers of
    // the prefix — the distributed/streaming distinct structure
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def regs(df: org.apache.spark.sql.DataFrame) = df
      .select(expr("CAST(conv(substring(md5(big), 1, 15), 16, 10) AS BIGINT)").as("h"))
      .select(expr("h % 256").as("bucket"),
        expr("CASE WHEN shiftright(h, 8) = 0 THEN 53 ELSE 53 - length(bin(shiftright(h, 8))) END").as("rank"))
      .groupBy(col("bucket")).agg(max(col("rank")).as("m_"))
    val batches: Seq[Seq[String]] = Seq(
      Seq("a b", "b c", "c d", "d e"),
      Seq("a b", "e f", "f g"),
      Seq("g h", "b c", "h i", "i j"))
    val input = MemoryStream[String]
    val q = regs(input.toDF().toDF("big"))
      .writeStream.format("memory").queryName("t_hll")
      .outputMode(OutputMode.Complete()).start()
    def got() = spark.table("t_hll").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    try {
      var seen = Seq.empty[String]
      for (b <- batches) {
        input.addData(b: _*); q.processAllAvailable()
        seen ++= b
        val want = regs(seen.toDF("big")).collect()
          .map(r => (r.getLong(0), r.getInt(1))).toMap
        assert(got() == want,
          s"after ${seen.size} bigrams the streaming registers must equal the batch registers")
      }
    } finally q.stop()
  }

  /** q50's batch SCD2 fold over every envelope line visible in `dir` —
    * the gold the incremental materializer must equal at every point. */
  private def batchScd2(dir: String): org.apache.spark.sql.DataFrame = {
    val scdCols = Seq("id", "valid_from", "valid_to", "firstName",
      "lastName", "dateOfBirth", "status", "is_current")
    Envelope.scd2Fold(
      Envelope.project(spark.read.schema(Envelope.schema).json(dir))
        .filter(col("tag").isin("insert", "update", "delete"))
        .withColumn("valid_from", Envelope.lsnNumeric(col("lsn")))
        .drop("lsn"))
      .select(scdCols.map(col): _*)
  }

  test("materializeScd2: streamed type-2 history equals the q50 batch fold after EVERY micro-batch") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_scd2_in")
    val ckpt = Files.createTempDirectory("graft_scd2_ckpt").toString
    val stateDir = Files.createTempDirectory("graft_scd2_state").toString
    val state = stateDir + "/students_history"
    val scdCols = Seq("id", "valid_from", "valid_to", "firstName",
      "lastName", "dateOfBirth", "status", "is_current")
    val lines = Fixture.jsonLines
    val chunks = lines.grouped(math.max(1, lines.size / 4)).toVector
    val t0 = System.currentTimeMillis() - 2000L * (chunks.size + 1)
    def quiesce(): Unit = {
      var waited = 0
      while (spark.streams.active.nonEmpty && waited < 10000) {
        Thread.sleep(100); waited += 100
      }
    }
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      val f = dir.resolve(f"chunk_$i%04d.jsonl")
      Files.write(f, chunk.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f.toFile.setLastModified(t0 + i * 2000L)
      Streams.materializeScd2(Streams.envelopeStream(spark, dir.toString), ckpt, state)
        .awaitTermination()
      quiesce()
      val got = spark.read.parquet(state).select(scdCols.map(col): _*)
      val expected = batchScd2(dir.toString)
      assert(got.count() == expected.count(), s"row count after chunk $i")
      assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
        s"after chunk $i the incremental history must equal the batch SCD2 replay")
      // exactly one open interval per live key, closed intervals chain
      val open = spark.read.parquet(state).filter(col("is_current") === 1)
      assert(open.groupBy("id").count().filter(col("count") > 1).isEmpty,
        "at most one open interval per key")
    }
    // restart on the same checkpoint with no new data: state unchanged
    val before = spark.read.parquet(state).orderBy("id", "valid_from").collect().toSeq
    Streams.materializeScd2(Streams.envelopeStream(spark, dir.toString), ckpt, state)
      .awaitTermination()
    quiesce()
    val after = spark.read.parquet(state).orderBy("id", "valid_from").collect().toSeq
    assert(after == before, "restart with no new data must not change the history")
  }

  test("materializeScd2: lost checkpoint commit after a completed swap — the replayed batch re-folds idempotently") {
    import java.nio.file.Files
    // The high-water screen is what makes replay exact: every event in
    // the replayed batch has LSN ≤ its key's recorded valid_from/
    // valid_to maximum, so the re-fold regenerates the open intervals
    // unchanged instead of duplicating history rows.
    val in = Fixture.materializeChunks(3)
    val ckpt = Files.createTempDirectory("graft_scd2_lc_ckpt").toString
    val stateDir = Files.createTempDirectory("graft_scd2_lc_state").toString
    val state = stateDir + "/students_history"
    Streams.materializeScd2(Streams.envelopeStream(spark, in), ckpt, state)
      .awaitTermination()
    var waited = 0
    while (spark.streams.active.nonEmpty && waited < 10000) {
      Thread.sleep(100); waited += 100
    }
    val expected = batchScd2(in)
    val commitsDir = new java.io.File(ckpt, "commits")
    def commits = commitsDir.list().toSeq.filterNot(_.startsWith(".")).sorted
    val before = commits
    assert(before.size >= 2, s"need multiple batches to lose one, got $before")
    val newest = commitsDir.listFiles().filterNot(_.getName.startsWith("."))
      .maxBy(_.getName.toLong)
    assert(newest.delete(), s"could not delete $newest")
    new java.io.File(commitsDir, s".${newest.getName}.crc").delete()
    Streams.materializeScd2(Streams.envelopeStream(spark, in), ckpt, state)
      .awaitTermination()
    assert(commits == before, "the replayed batch must re-commit")
    val scdCols = Seq("id", "valid_from", "valid_to", "firstName",
      "lastName", "dateOfBirth", "status", "is_current")
    val got = spark.read.parquet(state).select(scdCols.map(col): _*)
    assert(got.count() == expected.count(),
      "replay must not duplicate history rows")
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "replay onto the post-batch history must be idempotent")
    assert(new java.io.File(stateDir).list().toSeq == Seq("students_history"),
      "replay must leave no swap/prev artifacts")
  }

  test("materializeScd2 orderedTransport=false: REVERSE delivery converges to the q50 batch fold, both layouts") {
    import java.nio.file.Files
    val scdCols = Seq("id", "valid_from", "valid_to", "firstName",
      "lastName", "dateOfBirth", "status", "is_current")
    // reverse LSN order — every batch arrives entirely BEFORE the
    // events it follows, deletes out-run their inserts, and the final
    // state must still equal the order-free batch fold
    val lines = Fixture.jsonLines.reverse
    def quiesce(): Unit = {
      var waited = 0
      while (spark.streams.active.nonEmpty && waited < 10000) {
        Thread.sleep(100); waited += 100
      }
    }
    for (parts <- Seq(0, 4)) {
      val dir = Files.createTempDirectory(s"graft_scd2_ooo_in_$parts")
      val ckpt = Files.createTempDirectory(s"graft_scd2_ooo_ckpt_$parts").toString
      val stateDir = Files.createTempDirectory(s"graft_scd2_ooo_state_$parts").toString
      val state = stateDir + "/students_history"
      val chunks = lines.grouped(math.max(1, lines.size / 4)).toVector
      val t0 = System.currentTimeMillis() - 2000L * (chunks.size + 2)
      // zero-width [L, L) rows are the unordered state's memory of
      // deletes whose images haven't arrived — implementation detail,
      // invisible to point-in-time reads; compare REAL intervals only
      def realRows() = spark.read.parquet(state)
        .filter(col("valid_to").isNull || col("valid_to") =!= col("valid_from"))
        .select(scdCols.map(col): _*)
      chunks.zipWithIndex.foreach { case (chunk, i) =>
        val f = dir.resolve(f"chunk_$i%04d.jsonl")
        Files.write(f, chunk.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        f.toFile.setLastModified(t0 + i * 2000L)
        Streams.materializeScd2(Streams.envelopeStream(spark, dir.toString), ckpt, state,
          statePartitions = parts, orderedTransport = false)
          .awaitTermination()
        quiesce()
        val got = realRows()
        val expected = batchScd2(dir.toString)
        assert(got.count() == expected.count(), s"row count after chunk $i (parts=$parts)")
        assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
          s"after chunk $i (parts=$parts) the out-of-order history must equal the batch fold")
      }
      // everything delivered → no orphan tombstones may remain
      assert(spark.read.parquet(state)
        .filter(col("valid_to").isNotNull && col("valid_to") === col("valid_from")).isEmpty,
        s"fully-delivered history must carry no zero-width tombstones (parts=$parts)")
      // duplicate REDELIVERY of the first (highest-LSN) chunk: every
      // event already absorbed — the batch must be a no-op
      val before = realRows().orderBy("id", "valid_from").collect().toSeq
      val fd = dir.resolve("chunk_9999_redeliver.jsonl")
      Files.write(fd, chunks.head.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      fd.toFile.setLastModified(t0 + (chunks.size + 1) * 2000L)
      Streams.materializeScd2(Streams.envelopeStream(spark, dir.toString), ckpt, state,
        statePartitions = parts, orderedTransport = false)
        .awaitTermination()
      quiesce()
      val after = realRows().orderBy("id", "valid_from").collect().toSeq
      assert(after == before, s"redelivered duplicates must fold to a no-op (parts=$parts)")
    }
  }

  test("materializeScd2 orderedTransport=false: a delete arriving after its key's EARLIER history but before its own preceding image is not lost") {
    import java.nio.file.Files
    // The mixed-order case full reversal can never produce (there,
    // deletes always precede ALL images): true order insert@0x10,
    // delete@0x50, insert@0x60, delete@0x70 — but the transport
    // delivers {insert@0x10, delete@0x50, delete@0x70} first, with
    // delete@0x70's preceding image insert@0x60 still in flight. The
    // lead-based fold drops delete@0x70 (0x50 closes [0x10,0x50);
    // 0x70 closes nothing), and the old "LSN < min image LSN" orphan
    // screen did not tombstone it either (0x70 > 0x10). Its LSN was
    // silently lost: when insert@0x60 landed, the rebuild opened
    // [0x60,inf) instead of closing [0x60,0x70) — a DELETED key
    // reading live via scd2AsOf. The absorbed-valid_to anti-join
    // screen keeps it: a delete is an orphan iff no folded interval
    // ends at its LSN.
    def ins(lsn: String, id: Long, fn: String): String =
      s"""{"lsn": "$lsn", "tag": "insert", "table": "students", "new": {"id": $id, "first_name": "$fn", "last_name": "X", "date_of_birth": "1960-01-01", "status_id": 1}}"""
    def del(lsn: String, id: Long): String =
      s"""{"lsn": "$lsn", "tag": "delete", "table": "students", "old": {"id": $id}}"""
    def quiesce(): Unit = {
      var waited = 0
      while (spark.streams.active.nonEmpty && waited < 10000) {
        Thread.sleep(100); waited += 100
      }
    }
    for (parts <- Seq(0, 4)) {
      val dir = Files.createTempDirectory(s"graft_scd2_mixed_in_$parts")
      val ckpt = Files.createTempDirectory(s"graft_scd2_mixed_ckpt_$parts").toString
      val state = Files.createTempDirectory(s"graft_scd2_mixed_state_$parts").toString +
        "/students_history"
      val chunks = Seq(
        Seq(ins("0/00000010", 1L, "Ada"), del("0/00000050", 1L), del("0/00000070", 1L)),
        Seq(ins("0/00000060", 1L, "Grace")))
      val t0 = System.currentTimeMillis() - 2000L * (chunks.size + 1)
      chunks.zipWithIndex.foreach { case (chunk, i) =>
        val f = dir.resolve(f"chunk_$i%04d.jsonl")
        Files.write(f, chunk.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        f.toFile.setLastModified(t0 + i * 2000L)
        Streams.materializeScd2(Streams.envelopeStream(spark, dir.toString), ckpt, state,
          statePartitions = parts, orderedTransport = false)
          .awaitTermination()
        quiesce()
      }
      // the state must carry no open row and no zero-width residue:
      // everything delivered → exactly the batch fold
      val got = spark.read.parquet(state)
        .select("id", "valid_from", "valid_to", "firstName", "is_current")
        .orderBy("valid_from").collect().toSeq.map(r =>
          (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2),
            r.getString(3), r.getInt(4)))
      assert(got == Seq(
        (1L, 0x10L, 0x50L, "Ada", 0),
        (1L, 0x60L, 0x70L, "Grace", 0)),
        s"mixed-order delivery must converge to the batch fold (parts=$parts): $got")
      // the deleted key must NOT read live at any LSN past the delete
      assert(Envelope.scd2AsOf(spark.read.parquet(state), 0x80L).isEmpty,
        s"deleted key reads live after mixed-order delivery (parts=$parts)")
    }
  }

  test("compactScd2: every as-of >= horizon is exact after compaction; reads below refuse; horizon only advances; the stream continues") {
    import java.nio.file.Files
    for (parts <- Seq(0, 4)) {
      val in = Fixture.materializeChunks(3)
      val ckpt = Files.createTempDirectory(s"graft_scd2cmp_ckpt_$parts").toString
      val state = Files.createTempDirectory(s"graft_scd2cmp_state_$parts").toString + "/hist"
      def quiesce(): Unit = {
        var waited = 0
        while (spark.streams.active.nonEmpty && waited < 10000) {
          Thread.sleep(100); waited += 100
        }
      }
      def run() = Streams.materializeScd2(Streams.envelopeStream(spark, in), ckpt, state,
        statePartitions = parts).awaitTermination()
      run(); quiesce()
      def hist() = spark.read.parquet(state)
      def canon(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] = {
        val cols = df.columns.sorted
        df.select(cols.map(c => col(c).cast("string")): _*).collect()
          .map(_.toSeq.map(v => if (v == null) "<null>" else v.toString)).toSeq
          .sortBy(_.mkString("|"))
      }
      // horizon: the median closed-interval bound — real history falls
      // on both sides of it
      val tos = hist().filter(col("valid_to").isNotNull)
        .select(col("valid_to")).collect().map(_.getLong(0)).sorted
      assert(tos.length > 10, "fixture must have accumulated closed intervals")
      val horizon = tos(tos.length / 2)
      val maxLsn = hist().agg(max(col("valid_from"))).head.getLong(0)
      val probes = Seq(horizon, (horizon + maxLsn) / 2, maxLsn, Long.MaxValue)
      val before = probes.map(x =>
        canon(Streams.scd2AsOfState(spark, state, x)))
      val rowsBefore = hist().count()
      Streams.compactScd2(spark, state, horizon)
      assert(Streams.scd2CompactHorizon(spark, state).contains(horizon))
      // every fully-below interval is gone; steady-state size shrank
      assert(hist().filter(col("valid_to").isNotNull && col("valid_to") <= horizon).isEmpty,
        s"compaction must drop every interval with valid_to <= horizon (parts=$parts)")
      assert(hist().count() < rowsBefore, s"compaction must shrink the history (parts=$parts)")
      // the partitioned layout survives compaction
      if (parts > 0) assert(hist().columns.contains("graft_bucket"),
        "compaction must preserve the bucket layout")
      // exactness at and above the horizon
      probes.zip(before).foreach { case (x, want) =>
        assert(canon(Streams.scd2AsOfState(spark, state, x)) == want,
          s"as-of $x must be exact after compaction (parts=$parts)")
      }
      // refusal below the horizon, loudly
      val e1 = intercept[IllegalArgumentException] {
        Streams.scd2AsOfState(spark, state, horizon - 1)
      }
      assert(e1.getMessage.contains("compacted horizon"), e1.getMessage)
      // the horizon only advances
      val e2 = intercept[IllegalArgumentException] {
        Streams.compactScd2(spark, state, horizon - 16)
      }
      assert(e2.getMessage.contains("only advance"), e2.getMessage)
      // the stream continues on the compacted state: one more chunk,
      // and as-of(max) still equals the full batch fold's live rows
      val extra = Fixture.jsonLines.takeRight(40)
      val f = java.nio.file.Paths.get(in).resolve("chunk_9998_more.jsonl")
      Files.write(f, extra.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f.toFile.setLastModified(System.currentTimeMillis())
      run(); quiesce()
      val liveWant = canon(Envelope.scd2AsOf(batchScd2(in), Long.MaxValue))
      assert(canon(Streams.scd2AsOfState(spark, state, Long.MaxValue)) == liveWant,
        s"post-compaction batches must keep the live rows exact (parts=$parts)")
    }
  }

  test("compaction marker crash windows: complete tmp wins when the marker is missing; corrupt markers refuse loudly") {
    import java.nio.file.{Files, Paths}
    val state = Files.createTempDirectory("graft_cmp_marker").toString + "/hist"
    // crash between old-marker delete and rename: only the COMPLETE
    // tmp exists — its (newer) horizon must be honored (over-refusal)
    Files.write(Paths.get(s"${state}__compact_horizon.tmp"),
      "4096".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(Streams.scd2CompactHorizon(spark, state).contains(4096L))
    // a real marker always wins over the tmp
    Files.write(Paths.get(s"${state}__compact_horizon"),
      "2048".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(Streams.scd2CompactHorizon(spark, state).contains(2048L))
    // a corrupt marker (not producible by the temp-then-swap writer,
    // but defense) refuses loudly rather than reading past a horizon
    Files.write(Paths.get(s"${state}__compact_horizon"),
      "".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val e = intercept[IllegalStateException] { Streams.scd2CompactHorizon(spark, state) }
    assert(e.getMessage.contains("corrupt compaction marker"), e.getMessage)
    // crash DURING the first tmp write (no marker, garbage tmp): no
    // horizon — nothing was compacted yet, reads stay unrestricted
    Files.delete(Paths.get(s"${state}__compact_horizon"))
    Files.write(Paths.get(s"${state}__compact_horizon.tmp"),
      "garbage".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(Streams.scd2CompactHorizon(spark, state).isEmpty)
  }

  test("maintainIvfMembership: streamed membership == batch assign after every micro-batch; restart and lost commit are no-ops") {
    import java.nio.file.Files
    graft.expressions.VectorExpressions.register(spark)
    val embs = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    // frozen model trains on the SEED corpus (vec_id < 200); the
    // stream delivers the rest in three chunks
    val seed = embs.filter(col("vec_id") < 200).persist()
    val model = graft.ops.KMeans.fit(seed, "vec_id", "embedding", 8, 2, forceKernel = true)
    val root = Files.createTempDirectory("graft_ivfmaint").toString
    val (modelPath, indexPath) = (s"$root/model", s"$root/index")
    graft.ops.IndexStore.saveKMeans(spark, model, modelPath)
    graft.ops.IndexStore.saveMembership(
      graft.ops.KMeans.assign(seed, "embedding", model, forceKernel = true)
        .select(col("vec_id"), col("cluster").as("list_id")),
      indexPath, 8)
    // chunked vector stream: each range lands as one parquet file with
    // a strictly increasing mod time (one file == one micro-batch)
    val streamDir = Files.createTempDirectory("graft_ivfmaint_in")
    val ckpt = Files.createTempDirectory("graft_ivfmaint_ckpt").toString
    val ranges = Seq((200L, 300L), (300L, 400L), (400L, 2000000L))
    val t0 = System.currentTimeMillis() - 2000L * (ranges.size + 2)
    def quiesce(): Unit = {
      var waited = 0
      while (spark.streams.active.nonEmpty && waited < 10000) {
        Thread.sleep(100); waited += 100
      }
    }
    def run() = Streams.maintainIvfMembership(
      spark.readStream.schema(embs.schema).parquet(streamDir.toString),
      ckpt, modelPath, indexPath).awaitTermination()
    def membership(): Set[(Long, Int)] =
      graft.ops.IndexStore.loadMembership(spark, indexPath)._1
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    def expectUpTo(hi: Long): Set[(Long, Int)] =
      graft.ops.KMeans.assign(embs.filter(col("vec_id") < hi), "embedding", model,
        forceKernel = true)
        .select(col("vec_id"), col("cluster"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    ranges.zipWithIndex.foreach { case ((lo, hi), i) =>
      val tmpOut = Files.createTempDirectory(s"graft_ivfmaint_c$i")
      embs.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .coalesce(1).write.mode("overwrite").parquet(tmpOut.toString)
      val part = new java.io.File(tmpOut.toString).listFiles()
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith(".")).get
      val dst = streamDir.resolve(f"chunk_$i%04d.parquet")
      Files.move(part.toPath, dst)
      dst.toFile.setLastModified(t0 + i * 2000L)
      run(); quiesce()
      assert(membership() == expectUpTo(hi),
        s"after chunk $i the streamed membership must equal the batch assign of everything delivered")
    }
    // restart with no new files: membership unchanged
    val before = membership()
    run(); quiesce()
    assert(membership() == before, "restart with no new data must not change the index")
    // lost checkpoint commit: the replayed batch re-assigns to the
    // same lists (frozen model) and the vec_id merge folds it away
    val commitsDir = new java.io.File(ckpt, "commits")
    val newest = commitsDir.listFiles().filterNot(_.getName.startsWith("."))
      .maxBy(_.getName.toLong)
    assert(newest.delete())
    new java.io.File(commitsDir, s".${newest.getName}.crc").delete()
    run(); quiesce()
    assert(membership() == before,
      "replaying a batch whose commit was lost must be a no-op on the index")
    // retargeting the model on a live checkpoint refuses: the index
    // must never mix two quantizers' assignments
    graft.ops.IndexStore.saveKMeans(spark, model, s"$root/model2")
    val extra = embs.filter(col("vec_id") < 10).coalesce(1)
    val tmpOut = Files.createTempDirectory("graft_ivfmaint_extra")
    extra.write.mode("overwrite").parquet(tmpOut.toString)
    val part = new java.io.File(tmpOut.toString).listFiles()
      .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith(".")).get
    val dst = streamDir.resolve("chunk_9999.parquet")
    Files.move(part.toPath, dst)
    dst.toFile.setLastModified(t0 + (ranges.size + 1) * 2000L)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streams.maintainIvfMembership(
        spark.readStream.schema(embs.schema).parquet(streamDir.toString),
        ckpt, s"$root/model2", indexPath).awaitTermination()
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("bound to sink"), s"model retarget must refuse: $msgs")
    seed.unpersist()
  }

  test("maintainDedupIndex: batch decisions match p30 against the seed; later batches reject near-dups of admitted ingest; replay is a no-op") {
    import java.nio.file.Files
    import graft.queries.Pipeline
    import graft.ops.IndexStore
    val docs = graft.sources.Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val root = Files.createTempDirectory("graft_dedupidx").toString
    // seed: the standing corpus (p30's convention), batch_id = -1
    val (seedBands, seedShingles) = Pipeline.dedupCorpusIndex(spark, sf)
    IndexStore.save(seedBands.withColumn("batch_id", lit(-1L)),
      s"$root/bands", "minhash_bands", Map("bands" -> "2"), partitionCols = Seq("batch_id"))
    IndexStore.save(seedShingles.withColumn("batch_id", lit(-1L)),
      s"$root/shingles", "shingle_sets", partitionCols = Seq("batch_id"))
    // the ingest stream: the %5==0 increment docs in two chunks, then
    // a copy of an ADMITTED ingest doc under a fresh id (chunk 3) —
    // the intra-stream duplicate p30's one-shot gate never sees
    val p30dec = Pipeline.p30.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    val admittedSource = p30dec.filter(_._2._1 == "admit").keys.min
    val copyText = docs.filter(col("doc_id") === admittedSource)
      .select(col("text")).head.getString(0)
    val streamDir = Files.createTempDirectory("graft_dedupidx_in")
    val ckpt = Files.createTempDirectory("graft_dedupidx_ckpt").toString
    val t0 = System.currentTimeMillis() - 10000L
    def writeChunk(i: Int, df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = Files.createTempDirectory(s"graft_dedupidx_c$i")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith(".")).get
      val dst = streamDir.resolve(f"chunk_$i%04d.parquet")
      Files.move(part.toPath, dst)
      dst.toFile.setLastModified(t0 + i * 2000L)
    }
    val inc = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    writeChunk(0, inc.filter(col("doc_id") < 250))
    writeChunk(1, inc.filter(col("doc_id") >= 250))
    import spark.implicits._
    writeChunk(2, Seq((1000000L, copyText)).toDF("doc_id", "text"))
    def run() = Streams.maintainDedupIndex(
      spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1) // one chunk == one micro-batch
        .parquet(streamDir.toString),
      ckpt, root).awaitTermination()
    def quiesce(): Unit = {
      var waited = 0
      while (spark.streams.active.nonEmpty && waited < 10000) {
        Thread.sleep(100); waited += 100
      }
    }
    run(); quiesce()
    val dec = spark.read.parquet(s"$root/decisions")
      .select(col("inc_id"), col("decision"), col("n_matches"),
        col("best_match"), col("best_jaccard"), col("batch_id").cast("long"))
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) -1.0 else r.getDouble(4), r.getLong(5))).toMap
    // every increment doc decided exactly once, in its own batch
    assert(dec.size == inc.count() + 1, "one decision per streamed doc")
    // chunk-0 and chunk-1 docs see only the seed index -> their
    // decisions must equal p30's (unless an extra reject points at
    // earlier ADMITTED ingest — possible only for chunk 1)
    dec.filterNot(_._1 == 1000000L).foreach { case (id, (d, bm, _, bid)) =>
      val (pd, pbm) = p30dec(id)
      if (bid == 0L)
        assert(d == pd && bm == pbm, s"chunk-0 doc $id: streamed ($d, $bm) vs p30 ($pd, $pbm)")
      else if (d != pd)
        assert(d == "reject" && dec.get(bm).exists(x => x._1 == "admit" && x._4 < bid),
          s"chunk-1 doc $id diverges from p30 without an admitted-ingest best match ($d, $bm)")
    }
    // the copy of an admitted ingest doc is REJECTED against it — the
    // behavior the index appends exist for
    val (cd, cbm, cj, _) = dec(1000000L)
    assert(cd == "reject" && cbm == admittedSource && cj == 1.0,
      s"the duplicate of admitted ingest doc $admittedSource must reject against it, got ($cd, $cbm, $cj)")
    // the persistent index now equals seed + all admitted docs' tables
    val admittedIds = dec.filter(_._2._1 == "admit").keySet
    def bandsSet(df: org.apache.spark.sql.DataFrame) = df
      .select(col("db"), col("band_id").cast("int"), col("band_val"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val loadedBands = bandsSet(IndexStore.load(spark, s"$root/bands", "minhash_bands")._1)
    val admittedDocs = docs.filter(col("doc_id").isin(admittedIds.toSeq: _*))
    val expectBands = bandsSet(seedBands) ++
      bandsSet(Pipeline.dedupIndexTables(Pipeline.docShingleFrame(admittedDocs))._1)
    assert(loadedBands == expectBands,
      "the maintained band index must equal seed + admitted docs' bands")
    // lost-commit replay: same index as of batch_id < N -> identical
    // decisions -> identical partition content
    val commitsDir = new java.io.File(ckpt, "commits")
    val newest = commitsDir.listFiles().filterNot(_.getName.startsWith("."))
      .maxBy(_.getName.toLong)
    assert(newest.delete())
    new java.io.File(commitsDir, s".${newest.getName}.crc").delete()
    run(); quiesce()
    val decAfter = spark.read.parquet(s"$root/decisions")
      .select(col("inc_id"), col("decision")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(decAfter == dec.toSeq.map { case (id, (d, _, _, _)) => (id, d) }.sorted,
      "replaying a lost-commit batch must not change the decision log")
    assert(bandsSet(IndexStore.load(spark, s"$root/bands", "minhash_bands")._1) == expectBands,
      "replaying a lost-commit batch must not change the index")
  }

  test("materializeScd2: switching orderedTransport on a live checkpoint refuses loudly") {
    import java.nio.file.Files
    val in = Fixture.materializeChunks(2)
    val ckpt = Files.createTempDirectory("graft_scd2_mode_ckpt").toString
    val state = Files.createTempDirectory("graft_scd2_mode_state").toString + "/students_history"
    Streams.materializeScd2(Streams.envelopeStream(spark, in), ckpt, state)
      .awaitTermination()
    var waited = 0
    while (spark.streams.active.nonEmpty && waited < 10000) {
      Thread.sleep(100); waited += 100
    }
    // a fresh chunk so the mode-switched run actually fires a batch
    // (the binding check lives in the foreachBatch body)
    val extra = java.nio.file.Paths.get(in).resolve("chunk_9999_extra.jsonl")
    Files.write(extra, Fixture.jsonLines.take(5).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streams.materializeScd2(Streams.envelopeStream(spark, in), ckpt, state,
        orderedTransport = false).awaitTermination()
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("bound to sink"), s"mode switch must hit the sink-binding refusal: $msgs")
  }
}
