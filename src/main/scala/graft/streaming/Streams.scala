package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.cdc.Envelope
import graft.sources.Tables.readParquet

/** Structured-Streaming surface (SURVEY §2 B.6), mirroring the
  * reference's CDC pipeline lifecycle (`/root/reference/src/main.ts:
  * 144-189`: subscribe → per-batch listener → sink → ack) on Spark's
  * micro-batch model:
  *
  *  - `readStream` file source replays envelope JSON
  *    (subscription, A1);
  *  - `foreachBatch` is the literal equivalent of the reference's
  *    `(lsn, messages) => effect` listener (A2);
  *  - checkpointing replaces the reference's timer-based auto-ack
  *    (A9) with commit-after-sink — at-least-once delivery with
  *    idempotent last-image-wins application, instead of the
  *    reference's ack-even-on-failure;
  *  - watermarked windows / dedup / mapGroupsWithState cover the
  *    event-time operator set absent from the reference (charter).
  *
  * Every transform is `DataFrame => DataFrame` shared with the batch
  * path — batch/stream parity is asserted in StreamingSpec.
  */
object Streams {

  /** CDC envelope file-stream (one JSON line per change event). Pass a
    * widened `schema` (extra `new.*` fields) after a schema-drift
    * restart — pre-drift lines simply parse the new fields as null. */
  def envelopeStream(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 1,
      schema: org.apache.spark.sql.types.StructType = Envelope.schema): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(dir)

  /** Tumbling-window count by key with a watermark — streaming form of
    * contract q20; identical plan fragment as the batch query. */
  def tumblingCounts(events: DataFrame, window_ : String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("event_type"), col("cnt"))

  /** Sliding-window count (window < slide interval covered too). */
  def slidingCounts(events: DataFrame, window_ : String = "10 minutes",
      slide: String = "5 minutes", watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_, slide), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("event_type"), col("cnt"))

  /** Session-window count per user — streaming form of contract q21. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), max(col("ts")).as("last_ts"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("last_ts"))

  /** Streaming dedup by event id within the watermark horizon —
    * the exactly-once upgrade over the reference's blind auto-ack. */
  def dedupWithinWatermark(events: DataFrame, idCol: String = "event_id",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCol)

  /** Per-user running state machine over event_type via
    * mapGroupsWithState: tracks (n_events, n_errors, last_type).
    * Custom state the built-in aggs can't express (B.6). */
  final case class UserState(userId: Long, nEvents: Long, nErrors: Long, lastType: String)

  def userStateMachine(events: DataFrame)(implicit spark: SparkSession): Dataset[UserState] = {
    import spark.implicits._
    events
      .selectExpr("user_id", "event_id", "event_type")
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[UserState, UserState](GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(uid, 0L, 0L, null))
          // the group iterator's order is partition-layout-dependent;
          // fold in event_id order (errorBursts does the same) so
          // lastType — and a checkpoint-replayed batch's committed
          // state — is deterministic for the same input
          val next = rows.toSeq.sortBy(_._2).foldLeft(prev) { (st, r) =>
            UserState(uid, st.nEvents + 1,
              st.nErrors + (if (r._3 == "error") 1L else 0L), r._3)
          }
          state.update(next)
          next
      }
  }

  /** transformWithState (B.6, the Spark 4 arbitrary-state API that
    * supersedes mapGroupsWithState): per-user running event counter on
    * a named ValueState. Requires the RocksDB state store provider —
    * the handle API (value/list/map states, TTL, timers) is built for
    * state that outgrows the heap. Output per input batch is the
    * updated running count; the final row per user equals the batch
    * count (asserted in StreamsExtraSpec). */
  final case class UserCount(userId: Long, n: Long)

  private class CountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Long), UserCount] {
    @transient private var count: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      count = getHandle.getValueState[Long]("count",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[UserCount] = {
      val prev = if (count.exists()) count.get() else 0L
      val n = prev + rows.size
      count.update(n)
      Iterator(UserCount(key, n))
    }
  }

  def userEventCountsTws(events: DataFrame)(implicit spark: SparkSession): Dataset[UserCount] = {
    import spark.implicits._
    events
      .selectExpr("user_id", "event_id")
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new CountProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** transformWithState TIMERS (B.6): per-user inactivity detector on
    * EVENT-TIME timers — each event re-arms a timer at lastSeen + gap;
    * when the watermark passes an armed timer with no newer event, the
    * processor emits (user, lastSeen) and clears the state. This is
    * the timer half of the Spark 4 arbitrary-state API (the counter
    * above exercises ValueState): session-timeout detection that
    * mapGroupsWithState could only approximate with its coarse
    * per-group GroupStateTimeout, here with an exact per-key deadline.
    * State is one long + one timer per ACTIVE key — inactive keys are
    * emitted and dropped, so state tracks the live population, not
    * history. */
  final case class Inactivity(userId: Long, lastSeenMs: Long)

  private class InactivityProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, java.sql.Timestamp), Inactivity] {
    @transient private var lastSeen: org.apache.spark.sql.streaming.ValueState[Long] = _
    // the ARMED deadline is state, not recomputed as lastSeen + gapMs:
    // a restart with a DIFFERENT gap would make the recomputation miss
    // every previously-armed timer — the fired timer would be treated
    // as stale, the key never emitted, and its state row leaked
    // forever. Comparing against the deadline actually registered
    // keeps pre-restart keys correct under their old gap while new
    // events re-arm under the new one.
    @transient private var deadline: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      lastSeen = getHandle.getValueState[Long]("lastSeen",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      deadline = getHandle.getValueState[Long]("deadline",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[(Long, java.sql.Timestamp)],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[Inactivity] = {
      val maxTs = rows.map(_._2.getTime).max
      val prev = if (lastSeen.exists()) lastSeen.get() else Long.MinValue
      if (maxTs > prev) {
        // re-arm: timers are identified by expiry, so drop the armed one
        if (deadline.exists()) getHandle.deleteTimer(deadline.get())
        lastSeen.update(maxTs)
        deadline.update(maxTs + gapMs)
        getHandle.registerTimer(maxTs + gapMs)
      }
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long,
        timers: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[Inactivity] = {
      val armed = if (deadline.exists()) deadline.get() else Long.MinValue
      // a fired timer can be stale if a same-batch event re-armed after
      // the watermark was computed — emit only the armed deadline
      if (armed != Long.MinValue && info.getExpiryTimeInMs == armed) {
        val last = lastSeen.get()
        lastSeen.clear()
        deadline.clear()
        Iterator.single(Inactivity(key, last))
      } else Iterator.empty
    }
  }

  /** Inactivity timeouts per user over a watermarked event stream.
    * `events` needs `user_id` and an event-time `ts`. Requires the
    * RocksDB state store (as all transformWithState operators do). */
  def userInactivityTimeouts(events: DataFrame, gapMs: Long,
      watermark: String = "0 seconds")(implicit spark: SparkSession): Dataset[Inactivity] = {
    import spark.implicits._
    events
      // a NULL event-time row would NPE inside the processor's max()
      // — withWatermark does NOT drop null timestamps — so screen them
      // before the stateful operator; a null ts carries no ordering
      // information for an inactivity deadline anyway
      .where(col("ts").isNotNull)
      .withWatermark("ts", watermark)
      .selectExpr("user_id", "ts")
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new InactivityProcessor(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** flatMapGroupsWithState (B.6): per-user error-burst detector —
    * emits one row per burst of >= `threshold` consecutive errors
    * (zero-or-many output per group per batch, which mapGroups can't
    * express). State carries the running streak across micro-batches. */
  final case class Burst(userId: Long, burstLen: Long)
  final case class StreakState(streak: Long)

  def errorBursts(events: DataFrame, threshold: Long = 3)(
      implicit spark: SparkSession): Dataset[Burst] = {
    import spark.implicits._
    events
      .selectExpr("user_id", "event_id", "event_type")
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[StreakState, Burst](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[StreakState]) =>
          // deterministic in-group order regardless of partition order
          val sorted = rows.toSeq.sortBy(_._2)
          var streak = state.getOption.map(_.streak).getOrElse(0L)
          val bursts = Seq.newBuilder[Burst]
          sorted.foreach { r =>
            if (r._3 == "error") streak += 1
            else {
              if (streak >= threshold) bursts += Burst(uid, streak)
              streak = 0L
            }
          }
          state.update(StreakState(streak))
          bursts.result().iterator
      }
  }

  /** Streaming ingest-time near-dup detection (B.6 × B.7): p6/p30's
    * MinHash band index held as STREAMING STATE. Each arriving
    * document's two band keys probe the keys of every prior document
    * via flatMapGroupsWithState keyed by (band_id, band_val); per-band
    * state is the KEEPER — the first doc_id ingested into that band
    * (ties within a micro-batch broken by id, deterministic) — one
    * long per distinct band, the minimal ingest-dedup index. A
    * collision emits (doc_id, band_id, keeper_id): the arriving doc is
    * an LSH candidate near-dup of the keeper and would route to p30's
    * exact-Jaccard verify downstream. State shards across the cluster
    * by band key (the same key the batch band join shuffles on) and is
    * bounded by DISTINCT BANDS, not documents or pairs; at 100 TB this
    * operator is p30's persistent corpus index kept hot between
    * micro-batches instead of rebuilt per ingest batch. Null bands
    * (empty docs) are dropped, matching the batch join's null
    * semantics. */
  final case class BandHit(docId: Long, bandId: Int, keeperId: Long)

  def streamingNearDup(docs: DataFrame)(implicit spark: SparkSession): Dataset[BandHit] = {
    import spark.implicits._
    import graft.functions.TextFns
    val sig = docs
      .withColumn("toks", expr(TextFns.tokensExpr("text")))
      .withColumn("sh", expr(TextFns.shinglesExpr("toks")))
      .withColumn("hs", expr(TextFns.md5IntsExpr("sh")))
    val withMh = (0 until 8).foldLeft(sig)((df, k) =>
      df.withColumn(s"mh$k", expr(TextFns.minhashExpr("hs", k))))
    // ONE generator pass for both bands (a 2× union would re-run the
    // whole signature pipeline per branch every micro-batch); the
    // md5-inlining cache fix the batch ops use isn't available on a
    // streaming frame, so per-seed duplication is accepted here —
    // micro-batches are small by construction.
    val bands = withMh.select(col("doc_id"), explode(array(
        struct(lit(0).as("band_id"),
          concat(col("mh0"), lit("|"), col("mh1"), lit("|"), col("mh2"), lit("|"), col("mh3")).as("band_val")),
        struct(lit(1).as("band_id"),
          concat(col("mh4"), lit("|"), col("mh5"), lit("|"), col("mh6"), lit("|"), col("mh7")).as("band_val")))).as("b"))
      .select(col("doc_id"), col("b.band_id").as("band_id"), col("b.band_val").as("band_val"))
      .filter(col("band_val").isNotNull)
      .as[(Long, Int, String)]
    bands
      .groupByKey { case (_, bid, bval) => (bid, bval) }
      .flatMapGroupsWithState[Long, BandHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((bid, _), rows, state: GroupState[Long]) =>
          // deterministic in-group order regardless of partition layout
          val sorted = rows.toSeq.sortBy(_._1)
          val hits = Seq.newBuilder[BandHit]
          // Option, not a sentinel id: any Long is a legal doc_id
          var keeper: Option[Long] = state.getOption
          sorted.foreach { case (id, _, _) =>
            keeper match {
              case None            => keeper = Some(id)
              case Some(k) if id != k => hits += BandHit(id, bid, k)
              case _               => ()
            }
          }
          keeper.foreach(state.update)
          hits.result().iterator
      }
  }

  /** [[streamingNearDup]] with an EVICTION HORIZON — the bounded-index
    * variant SCALE.md §6 documents as the state-size dial
    * ("only dedup against the last N days"). Input rows carry an event
    * time `tsCol`; each band's keeper entry lives until the watermark
    * passes (last activity on the band + horizon), then the event-time
    * timeout REMOVES it — a later duplicate of an evicted band becomes
    * the band's NEW keeper instead of a hit, which is exactly
    * dedup-within-horizon semantics (an operator choice, not a
    * correctness fix: the unbounded form IS the full index). The
    * timeout timestamp is re-armed on every touch, so hot boilerplate
    * bands never expire while quiet ones age out — state is bounded by
    * bands ACTIVE within the horizon. */
  def streamingNearDupWithHorizon(docs: DataFrame, horizonMs: Long,
      tsCol: String = "ts", watermarkDelay: String = "0 seconds")(
      implicit spark: SparkSession): Dataset[BandHit] = {
    import spark.implicits._
    import graft.functions.TextFns
    val sig = docs
      .withColumn("toks", expr(TextFns.tokensExpr("text")))
      .withColumn("sh", expr(TextFns.shinglesExpr("toks")))
      .withColumn("hs", expr(TextFns.md5IntsExpr("sh")))
    val withMh = (0 until 8).foldLeft(sig)((df, k) =>
      df.withColumn(s"mh$k", expr(TextFns.minhashExpr("hs", k))))
    val bands = withMh.select(col("doc_id"), col(tsCol).as("ts"), explode(array(
        struct(lit(0).as("band_id"),
          concat(col("mh0"), lit("|"), col("mh1"), lit("|"), col("mh2"), lit("|"), col("mh3")).as("band_val")),
        struct(lit(1).as("band_id"),
          concat(col("mh4"), lit("|"), col("mh5"), lit("|"), col("mh6"), lit("|"), col("mh7")).as("band_val")))).as("b"))
      .select(col("doc_id"), col("b.band_id").as("band_id"),
        col("b.band_val").as("band_val"), col("ts"))
      .filter(col("band_val").isNotNull)
      .withWatermark("ts", watermarkDelay)
      .as[(Long, Int, String, java.sql.Timestamp)]
    bands
      .groupByKey { case (_, bid, bval, _) => (bid, bval) }
      .flatMapGroupsWithState[Long, BandHit](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case ((bid, _), rows, state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            // horizon passed with no new activity: forget the keeper —
            // the next arrival under this band founds a fresh entry
            state.remove()
            Iterator.empty
          } else {
            // deterministic order: ingest time, then id
            val sorted = rows.toSeq.sortBy { case (id, _, _, ts) => (ts.getTime, id) }
            val hits = Seq.newBuilder[BandHit]
            var keeper: Option[Long] = state.getOption
            sorted.foreach { case (id, _, _, _) =>
              keeper match {
                case None               => keeper = Some(id)
                case Some(k) if id != k => hits += BandHit(id, bid, k)
                case _                  => ()
              }
            }
            keeper.foreach(state.update)
            // re-arm from the band's latest activity; never behind the
            // current watermark (setTimeoutTimestamp refuses the past)
            val maxTs = sorted.map(_._4.getTime).max
            state.setTimeoutTimestamp(
              math.max(maxTs + horizonMs, state.getCurrentWatermarkMs() + 1L))
            hits.result().iterator
          }
      }
  }

  /** Stream–stream interval join (B.3): each error event joined to the
    * same user's click events in the preceding `lookback`. Watermarks on
    * BOTH sides plus the two-sided time-range predicate are what let
    * Spark bound and evict join state — without them a stream-stream
    * join buffers forever, which at 100 TB/day is an OOM, not a plan. */
  def clickErrorJoin(events: DataFrame, lookback: String = "30 minutes",
      watermark: String = "1 hour", joinType: String = "inner"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", watermark)
    val errors = events.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("event_id").as("error_id"), col("ts").as("e_ts"))
      .withWatermark("e_ts", watermark)
    // outer variants emit the unmatched side only once its watermark
    // passes the join horizon — same state bound as inner
    errors.join(clicks,
      col("e_user") === col("c_user") &&
        col("c_ts") <= col("e_ts") &&
        col("c_ts") >= col("e_ts") - expr(s"INTERVAL $lookback"),
      joinType)
      .select(col("e_user").as("user_id"), col("error_id"), col("click_id"))
  }

  /** Stream–static enrichment join (B.3): the reference's implied
    * `students.status_id → status.id` FK lookup
    * (`/root/reference/terraform/setup_database.sql:14`, never joined
    * by the PoC) as a streaming enrich. The static side is broadcast —
    * at scale a dimension lookup must never shuffle the stream. */
  def enrichWithStatic(stream: DataFrame, static: DataFrame, keys: Seq[String]): DataFrame =
    stream.join(broadcast(static), keys, "left_outer")

  /** Rate source smoke (B.1): synthetic rows/sec load generator. */
  def rateSource(spark: SparkSession, rowsPerSecond: Int = 1000): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond)
      .load()

  /** Snapshot-then-stream (A6, the lifecycle the reference wired but
    * left commented out at `/root/reference/src/main.ts:164-178`):
    * a batch snapshot unioned ahead of the change stream, resolved by
    * last-image-wins. The snapshot is rendered as pseudo-events with an
    * LSN below every real LSN, so [[Envelope.lastImageByKey]] dedups
    * the overlap: any key re-seen in the stream takes the stream image,
    * keys only in the snapshot keep the snapshot image.
    *
    * Payload columns are taken from the CHANGES side (whatever
    * [[Envelope.project]] produced, drift extras included); stream
    * columns the snapshot predates are null-filled — a snapshot taken
    * before an ADDITIVE schema drift still unions cleanly with
    * post-drift changes. A snapshot column matching NO change column
    * is refused loudly (see the guard below): the engine's own drift
    * guards refuse column removal, so an unmatched snapshot column is
    * a naming mismatch, not a migration.
    *
    * The changes' LSNs are re-canonicalized here
    * ([[Envelope.normalizeLsn]], idempotent on already-canonical
    * values): the snapshot sentinel is only below every CANONICAL
    * LSN — a raw wire LSN sorts BELOW it (`'/'` < `'0'`), so changes
    * from a caller that skipped [[Envelope.project]] would silently
    * all lose to the snapshot. Normalizing makes them order
    * correctly, and malformed LSNs fail loudly instead. */
  def snapshotThenStream(snapshot: DataFrame, changes: DataFrame,
      keyCol: String = "id"): DataFrame =
    Envelope.lastImageByKey(seededEvents(snapshot, changes), keyCol)

  /** Snapshot-then-stream for the TYPE-2 HISTORY (A6 × q50): seed the
    * SCD2 fold from a batch snapshot — every snapshot row opens its
    * key's first interval at canonical LSN ZERO (below every wire
    * LSN), and the change stream's events supersede/close exactly as
    * in the pure-stream fold. The pre-snapshot history is by
    * definition not reconstructible; what the seed guarantees is that
    * `scd2AsOf(result, maxLsn)` equals [[snapshotThenStream]]'s live
    * fold of the same inputs (CdcSpec pins this), the interval laws
    * hold from LSN 0 on, and a key the stream never touches reads as
    * one open interval carrying its snapshot image. To seed the
    * STREAMING materializer, write this output (for the same
    * projection) as the initial state parquet before the first batch —
    * [[materializeScd2]] treats any existing state as history and
    * continues incrementally from it. */
  def snapshotThenScd2(snapshot: DataFrame, changes: DataFrame,
      keyCol: String = "id"): DataFrame =
    Envelope.scd2Fold(
      seededEvents(snapshot, changes)
        .filter(col("tag").isin("insert", "update", "delete"))
        .withColumn("valid_from", Envelope.lsnNumeric(col("lsn")))
        .drop("lsn"), keyCol)

  /** The seeding frame shared by [[snapshotThenStream]] and
    * [[snapshotThenScd2]]: snapshot rows as canonical-LSN-zero insert
    * events unioned with the normalized change events. */
  private def seededEvents(snapshot: DataFrame, changes: DataFrame): DataFrame = {
    val payload = changes.columns.filterNot(c =>
      c.equalsIgnoreCase("lsn") || c.equalsIgnoreCase("tag")).toSeq
    val payloadSet = payload.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    // "snapshot columns the stream doesn't carry are dropped" covers a
    // snapshot taken before a COLUMN REMOVAL — not a NAMING MISMATCH.
    // A snapshot passed with its raw database column names
    // (FIRST_NAME/first_name vs the projection's firstName) would
    // resolve ZERO payload columns and null-fill every one: an
    // all-null seed with only the key intact (the key resolves
    // case-insensitively, masking the break), silently. Refuse when a
    // snapshot column matches nothing — the caller must rename the
    // snapshot to the projected output names (Relation.outName).
    val unmatched = snapshot.columns.filterNot(c =>
      payloadSet(c.toLowerCase(java.util.Locale.ROOT)))
    require(unmatched.isEmpty,
      s"[graft] snapshot columns ${unmatched.sorted.mkString("'", "', '", "'")} match no " +
        s"projected change column ${payload.mkString("[", ", ", "]")} — they would be " +
        s"silently dropped and their state null-filled; rename the snapshot columns to " +
        s"the projection's output names before seeding")
    val snapCols = snapshot.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val snapAsEvents = snapshot.select(
      lit("00000000/00000000").as("lsn") +: // canonical LSN zero, below every wire LSN
      lit("insert").as("tag") +:
      payload.map { c =>
        if (snapCols(c.toLowerCase(java.util.Locale.ROOT))) col(c)
        else lit(null).cast(changes.schema(c).dataType).as(c)
      }: _*)
    snapAsEvents.unionByName(
      changes.select(Envelope.normalizeLsn(col("lsn")).as("lsn") +:
        col("tag") +: payload.map(col): _*))
  }

  /** Snapshot-then-stream for a MULTI-TABLE stream (A6 × the demux):
    * every registered relation seeds from ITS OWN batch snapshot —
    * e.g. one [[graft.sources.Jdbc.snapshot]] per table, the
    * initial-load shape of a `FOR ALL TABLES` subscription — and
    * resolves against its demuxed change events by last-image-wins,
    * exactly as the single-relation [[snapshotThenStream]]. Relations
    * without a snapshot entry start from the stream alone. Returns
    * one resolved live state per relation. */
  def snapshotThenStreamTables(envelopes: DataFrame,
      relations: Seq[Envelope.Relation],
      snapshots: Map[String, DataFrame]): Map[String, DataFrame] =
    relations.map { rel =>
      val changes = Envelope.projectRelation(
        envelopes.filter(col("table") === rel.name), rel)
      rel.name -> (snapshots.get(rel.name) match {
        case Some(snap) => snapshotThenStream(snap, changes, rel.outName(rel.key))
        case None => Envelope.lastImageByKey(changes, rel.outName(rel.key))
      })
    }.toMap

  /** foreachBatch sink: the reference's per-batch listener boundary
    * (A2/A8). The handler runs after the batch is fully planned; the
    * checkpoint commits only after it returns — commit-after-sink. */
  def runForeachBatch(
      stream: DataFrame,
      checkpoint: String,
      handler: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(handler)
      .start()

  /** Complete-mode memory sink for deterministic streaming tests. */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode): StreamingQuery =
    df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()

  /** How the materializer core finds a micro-batch's targets. */
  private sealed trait Guard

  /** One relation per stream. The envelopes may carry no `table`
    * column; when they do, the batch must hold one table and the first
    * one seen binds the checkpoint. `alias` is the public materializer
    * and `twin` its multi-table counterpart, which the refusals name. */
  private final case class SingleTable(alias: String, twin: String) extends Guard

  /** The registered relations, demuxed on `table` and applied up to
    * `parallelism` at a time. */
  private final case class Demux(relations: Seq[Envelope.Relation], parallelism: Int)
    extends Guard

  /** One target of a micro-batch: the relation name (the registry name
    * under [[Demux]]; under [[SingleTable]] the bound table or "", which
    * the fixed-sink aliases ignore), its key column, and its events,
    * projected on first use inside the apply. */
  private final class Target(val name: String, val keyCol: String, project: => DataFrame) {
    lazy val events: DataFrame = project
  }

  /** The materializer core: the one per-batch frame behind all eight
    * public CDC materializers, which differ only in their sink identity,
    * their [[Guard]] and their per-target apply. This is where the
    * exactly-once argument lives — a replayable source (the checkpoint
    * redelivers every uncommitted batch) plus an idempotent apply
    * (*Structured Streaming*, SIGMOD 2018). Per micro-batch:
    *
    *  1. bind the checkpoint to `identity` ([[requireSinkBinding]]);
    *  2. on the run's first batch, run `onStart`;
    *  3. read the batch once ([[batchFrame]]). With `driverRows` (the
    *     parquet last-image sinks) a batch whose plan-size estimate is
    *     within `spark.sql.autoBroadcastJoinThreshold` is collected in
    *     that one job and served as a driver-side relation: the guard's
    *     tally, the census and every target's projected events then
    *     cost no job. Otherwise the batch is persisted: the guard's one
    *     job, a map-side tally with no shuffle ([[tallyTables]]), fills
    *     the cache and every apply reads it, where unpersisted each
    *     would re-read the micro-batch source;
    *  4. guard, before any apply: [[requireSingleTable]] +
    *     [[requireTableBinding]] with [[Envelope.project]], or one
    *     [[tableCensus]] with [[Envelope.projectRelation]] per relation;
    *  5. apply the targets with row events, plus the quiet ones when
    *     `applyQuiet(firstBatch)` — quiet targets are otherwise skipped
    *     outright, with no probe job, because the guard's count already
    *     proved them empty;
    *  6. run `afterBatch(batchId, firstBatch, applied target names)`,
    *     then release the batch (unpersist; nothing for driver rows).
    *
    * The checkpoint commits only after the whole frame returns. */
  private def materialize(envelopes: DataFrame, checkpoint: String, identity: String,
      guard: Guard, driverRows: Boolean = false, applyQuiet: Boolean => Boolean = _ => false,
      onStart: () => Unit = () => (),
      afterBatch: (Long, Boolean, Set[String]) => Unit = (_, _, _) => ())(
      apply: (Target, Long, Boolean) => Unit): StreamingQuery = {
    val started = new java.util.concurrent.atomic.AtomicBoolean(false)
    val boundTable = new java.util.concurrent.atomic.AtomicReference[String]()
    runForeachBatch(envelopes, checkpoint, (batch, batchId) => {
      val hconf = batch.sparkSession.sparkContext.hadoopConfiguration
      requireSinkBinding(hconf, checkpoint, identity)
      val firstBatch = started.compareAndSet(false, true)
      if (firstBatch) onStart()
      val (frame, release) = batchFrame(batch, driverRows)
      try {
        val (counted, parallelism) = guard match {
          case SingleTable(alias, twin) =>
            val (tbl, n) = requireSingleTable(frame, alias, twin)
            tbl.foreach(requireTableBinding(hconf, checkpoint, _, twin, boundTable))
            (Seq(new Target(tbl.getOrElse(""), "id", Envelope.project(frame)) -> n), 1)
          case Demux(relations, parallelism) =>
            val census = tableCensus(frame, relations.map(_.name))
            (relations.map(r => new Target(r.name, r.outName(r.key),
              Envelope.projectRelation(frame.filter(col("table") === r.name), r)) ->
              census.getOrElse(r.name, 0L)), parallelism)
        }
        val active = counted.collect { case (t, n) if n > 0L || applyQuiet(firstBatch) => t }
        applyRelations(active, parallelism)(apply(_, batchId, firstBatch))
        afterBatch(batchId, firstBatch, active.map(_.name).toSet)
      } finally release()
    })
  }

  /** The frame a micro-batch's guard and applies read, and how to
    * release it. With `driverRows`, a batch whose plan-size estimate
    * (`optimizedPlan.stats`, no job: a foreachBatch batch carries its
    * source files' size) is within the session's
    * `spark.sql.autoBroadcastJoinThreshold` — the size Spark itself
    * will hold on the driver to broadcast — is collected once and
    * rebuilt as a driver-side `LocalRelation`. Every plan over it folds
    * to a `LocalRelation` on the driver ([[onDriver]]), so the later
    * reads run no job. A batch over the bound, a threshold of -1, or
    * `driverRows = false` gets the persisted batch. */
  private def batchFrame(batch: DataFrame, driverRows: Boolean): (DataFrame, () => Unit) = {
    val spark = batch.sparkSession
    val bound = spark.sessionState.conf.autoBroadcastJoinThreshold
    if (driverRows && bound >= 0 && batch.queryExecution.optimizedPlan.stats.sizeInBytes <= bound)
      (spark.createDataFrame(java.util.Arrays.asList(batch.collect(): _*), batch.schema), () => ())
    else {
      val cached = batch.persist()
      (cached, () => cached.unpersist())
    }
  }

  /** Does `df` evaluate on the driver — is its optimized plan a
    * `LocalRelation` (Spark folds filters and projections over one)? */
  private def onDriver(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  /** Streaming CDC MATERIALIZATION — the reference's whole loop as one
    * operator: envelope stream → per-batch last-image reduce → MERGE
    * into a queryable parquet state table ([[graft.ops.Merge]]). This
    * is what the reference's Event Hub consumer would do with the
    * events it receives (`/root/reference/src/main.ts:69-90` stops at
    * the send); q19 proves replay-to-state equivalence in batch, this
    * keeps the state table continuously current.
    *
    * Each micro-batch: project (A4/A5), reduce to the latest image per
    * key (deletes become op 'D'), full-outer MERGE against the current
    * state, and commit through [[ParquetState]]: crash recovery at
    * open, then a rename-aside swap of the whole state (or, on the
    * partitioned layout, an overwrite of the touched buckets). Without
    * the recovery, a crash between the swap's two renames would make
    * the replayed batch merge into an EMPTY base and silently truncate
    * the state to that batch's keys. A production deployment points
    * the same foreachBatch at a transactional table format and drops
    * the swap entirely. Restart safety then comes from the checkpoint:
    * a replayed batch re-MERGEs the same reduced change set, which is
    * idempotent (same keys, same winning images) whether it lands on
    * the pre-batch state or on a recovered post-batch swap.
    *
    * Batches apply in ARRIVAL order when `orderedTransport` is true —
    * the in-order delivery a CDC transport guarantees per partition
    * (the reference's Event Hub, Kafka). A file-replay harness must
    * then present files in LSN order (`Fixture.materializeChunks`
    * stamps mod times for this). With `orderedTransport = false` the
    * state table additionally keeps each key's winning `lsn` plus its
    * `op` as a TOMBSTONE marker, and the merge compare-and-swaps on
    * LSN ([[graft.ops.Merge.upsertVersioned]]): a replayed or
    * late-arriving OLDER image can never overwrite a newer one, and a
    * late older update cannot resurrect a deleted key, regardless of
    * batch arrival order. Read the live rows back through
    * [[cdcLiveState]], which filters the tombstones.
    *
    * Tombstones are retained for `casTombstoneRetention` BATCHES after
    * the delete arrives (default: forever). Unbounded retention is
    * correct but monotonic — at production delete rates the state table
    * accumulates a row for every key ever deleted. A bounded horizon
    * compacts a tombstone once `batchId - its arrival batch` exceeds
    * the bound; set it comfortably above the transport's maximum
    * reorder window in batches, because after compaction a
    * still-later-arriving OLDER update for that key is
    * indistinguishable from a fresh insert and WILL resurrect it —
    * the standard tombstone-GC trade (same contract as Cassandra's
    * gc_grace or a Kafka-compacted topic's delete.retention.ms).
    *
    * `statePartitions > 0` switches the state table to a BUCKET-
    * PARTITIONED layout (`graft_bucket=<pmod(xxhash64(key), n)>/`):
    * each batch then reads only the buckets its keys touch (partition-
    * pruned scan) and dynamic-partition-overwrites only those buckets,
    * so per-batch write cost is O(touched state) instead of O(state) —
    * the difference between flat and linear ms/batch as accumulated
    * state grows (SCALE.md records the curve). The bucket count is
    * pinned by the checkpoint's sink binding (a count flip would
    * re-route keys across dirs); which batches write whole instead
    * (migration, drift) is [[ParquetState]]'s classification. Bounded-
    * retention tombstones in a bucket compact when that bucket is next
    * touched — GC is lazier than the unpartitioned layout, never
    * sooner. Size buckets so one bucket ≈ a few HDFS blocks: at 100 TB
    * state and 4096 buckets a busy batch touching 100 buckets rewrites
    * ~2.5% of the table instead of all of it.
    */
  def materializeCdc(envelopes: DataFrame, checkpoint: String,
      statePath: String, orderedTransport: Boolean = true,
      casTombstoneRetention: Long = Long.MaxValue,
      statePartitions: Int = 0): StreamingQuery =
    materialize(envelopes, checkpoint,
      s"parquet:$statePath:${modeTag(orderedTransport)}${partitionTag(statePartitions)}",
      SingleTable("materializeCdc", "materializeCdcTables"), driverRows = true) { (t, batchId, _) =>
      applyBatchParquet(t.events, statePath, batchId, t.keyCol, orderedTransport,
        casTombstoneRetention, statePartitions)
    }

  /** Streaming SCD2 MATERIALIZATION — q50's type-2 history kept
    * continuously current: envelope stream → per-batch incremental fold
    * into a parquet HISTORY table (`id, valid_from, valid_to, image…,
    * is_current`), the warehouse-side complement of [[materializeCdc]]'s
    * last-image state. StreamsExtraSpec pins that after every
    * micro-batch the table equals the q50 batch replay of the events
    * seen so far — the same upgrade path q19 took to materializeCdc.
    *
    * Incrementality: CLOSED intervals are immutable — only each touched
    * key's OPEN interval can change (an update supersedes it, a delete
    * closes it). So a batch re-folds just `open intervals of touched
    * keys ∪ fresh events` through the SHARED [[Envelope.scd2Fold]]
    * (open rows re-enter as pseudo-events at their own valid_from;
    * fresh events always sort after them — see the high-water screen),
    * and everything else is carried through untouched. Per-batch cost:
    * O(batch + touched keys' history), never O(state).
    *
    * Restart safety: the checkpoint replays an uncommitted batch; the
    * HIGH-WATER screen (an event is fresh only if its LSN exceeds the
    * key's max recorded valid_from/valid_to) drops every already-folded
    * event, so the re-fold reproduces the state byte-for-byte —
    * idempotent without version columns, because the history itself
    * records each key's last applied LSN (a delete's LSN survives as
    * the closed interval's valid_to). The same screen makes the
    * DEFAULT contract ORDERED-TRANSPORT-ONLY: an event older than the
    * key's high water is indistinguishable from a replay and is
    * dropped — the in-order delivery a CDC transport guarantees per
    * partition, [[materializeCdc]]'s `orderedTransport = true`
    * contract.
    *
    * `orderedTransport = false` (the at-least-once/out-of-order
    * transports materializeCdc already serves) switches the re-fold to
    * a whole-key rebuild: each touched key's history rows re-enter the
    * SHARED fold as pseudo-events at their valid_from (absorbed
    * deletes resurface as tombstones at the valid_to no row re-opens),
    * unioned with the batch's genuinely-new events — late events slot
    * into the middle of the history and the interval set converges to
    * the q50 batch fold REGARDLESS of delivery order, while an LSN the
    * history already absorbed is screened as a replay. Same O(touched
    * keys' history) cost class as the ordered path (the touched-key
    * split already rebuilds whole keys); duplicates inside one batch
    * collapse by (key, LSN) since distinct events never share an LSN.
    *
    * The write is materializeCdc's [[ParquetState]] commit (crash
    * recovery, rename-aside swap, or touched buckets only on the
    * partitioned layout); at production state sizes a transactional
    * table format's row-level MERGE takes its place. */
  def materializeScd2(envelopes: DataFrame, checkpoint: String,
      statePath: String, statePartitions: Int = 0,
      orderedTransport: Boolean = true): StreamingQuery =
    // the transport mode is part of the sink identity: an unordered
    // state carries zero-width tombstones the ordered fold would
    // neither read nor regenerate — switching modes on a live
    // checkpoint must refuse, not silently corrupt
    materialize(envelopes, checkpoint,
      s"parquet:$statePath:scd2${partitionTag(statePartitions)}${oooTag(orderedTransport)}",
      SingleTable("materializeScd2", "materializeScd2Tables")) { (t, batchId, _) =>
      applyBatchScd2(t.events, statePath, batchId, statePartitions, t.keyCol, orderedTransport)
    }

  /** One micro-batch folded into the SCD2 history parquet — the
    * per-target apply [[materialize]] runs for [[materializeScd2]] and
    * [[materializeScd2Tables]]; see [[materializeScd2]] for the contract.
    *
    * `statePartitions > 0` gives the history the SAME bucket layout as
    * [[materializeCdc]]'s state, committed by the same [[ParquetState]]
    * classification: the steady-state batch reads and overwrites only
    * the buckets its keys hash into — per-batch cost O(touched
    * buckets), not O(state). SCD2 makes this layout especially safe:
    * rows are never removed (a delete CLOSES an interval, it doesn't
    * drop the row), so a touched bucket can never empty out from under
    * the dynamic overwrite. */
  private def applyBatchScd2(projected: DataFrame, statePath: String,
      batchId: Long, statePartitions: Int, keyCol: String,
      orderedTransport: Boolean): Unit = {
    val events = scd2Events(projected, keyCol, orderedTransport)
    if (statePartitions > 0)
      require(!events.columns.exists(_.equalsIgnoreCase(bucketCol)),
        s"[graft] partitioned materializeScd2 reserves column '$bucketCol' — rename it in the source schema")
    val st = new ParquetState(projected.sparkSession, statePath)
    // the history schema this batch's events fold to (analysis only, no job)
    val incremental = statePartitions > 0 &&
      st.incremental(Envelope.scd2Fold(events.limit(0), keyCol).schema)
    var cachedMine: Option[DataFrame] = None
    try {
      /** The per-key incremental re-fold. Ordered transport: open
        * intervals of `mine` ∪ fresh events (screened by the per-key
        * high-water mark) through the SHARED fold; closed intervals
        * carry through. Unordered transport: a late event can land
        * INSIDE a key's closed history, so each touched key's WHOLE
        * interval set rebuilds from the union of its history rows
        * (re-entering as pseudo-events at their valid_from, deletes as
        * tombstones at the valid_to no row re-opens) and the batch's
        * genuinely-new events — same per-key O(history) cost class the
        * touched-key split already pays, and replays stay no-ops
        * because an LSN the history absorbed is screened out. */
      def refold(mine: DataFrame): DataFrame =
        if (orderedTransport) {
          // high-water mark per touched key: the max LSN the history has
          // already absorbed (a delete's LSN lives on as a valid_to)
          val hwm = mine.groupBy(col(keyCol)).agg(
            max(greatest(col("valid_from"),
              coalesce(col("valid_to"), lit(Long.MinValue)))).as("__hwm"))
          val fresh = events.join(broadcast(hwm), Seq(keyCol), "left")
            .filter(col("__hwm").isNull || col("valid_from") > col("__hwm"))
            .drop("__hwm")
          // the open interval re-enters the fold as a pseudo-event at its
          // own valid_from; every fresh event's LSN > hwm ≥ that, so the
          // window re-closes it at the right bound (or a delete ends it)
          val open = mine.filter(col("is_current") === 1)
            .drop("valid_to", "is_current")
            .withColumn("tag", lit("insert"))
          val closed = mine.filter(col("is_current") === 0)
          closed.unionByName(
            Envelope.scd2Fold(open.unionByName(fresh, allowMissingColumns = true), keyCol),
            allowMissingColumns = true)
        } else scd2RebuildUnordered(mine, events, keyCol)
      val merged = st.onDisk match {
        case None =>
          if (orderedTransport) Envelope.scd2Fold(events, keyCol)
          else scd2FoldUnordered(events, keyCol)
        case Some(full) =>
          // incremental: only the touched buckets (a batch-sized collect,
          // bounded by statePartitions), whose untouched keys must be
          // REWRITTEN with them because the overwrite replaces whole
          // buckets. Full rewrite (unpartitioned steady state, one-shot
          // layout migration, or a drift batch): the whole state. Either
          // way the touched-key split bounds the RE-FOLD to the batch's
          // keys.
          val base =
            if (incremental) {
              val touched = events.select(bucketExpr(keyCol, statePartitions).as(bucketCol))
                .distinct().collect().map(_.getInt(0)).toSeq
              full.filter(col(bucketCol).isin(touched: _*)).drop(bucketCol)
            } else full.drop(bucketCol)
          val keys = events.select(col(keyCol)).distinct()
          val mine = base.join(broadcast(keys), Seq(keyCol), "left_semi")
            .persist() // read three ways: high-water, open, closed
          cachedMine = Some(mine)
          base.join(broadcast(keys), Seq(keyCol), "left_anti")
            .unionByName(refold(mine), allowMissingColumns = true)
      }
      // a crash before the checkpoint commit replays the batch, and the
      // high-water screen makes the re-fold a no-op
      st.write(
        if (statePartitions > 0) merged.withColumn(bucketCol, bucketExpr(keyCol, statePartitions))
        else merged,
        batchId, incremental)
    } finally cachedMine.foreach(_.unpersist())
  }

  /** A relation's row events as SCD2 fold input: control events
    * dropped, the LSN turned into the numeric `valid_from`. Unordered
    * transports redeliver: two envelopes with one LSN are the same
    * event twice (distinct events never share an LSN), so keep one; the
    * ordered path relies on the high-water screen instead. Shared by
    * the parquet and JDBC SCD2 applies. */
  private def scd2Events(projected: DataFrame, keyCol: String,
      orderedTransport: Boolean): DataFrame = {
    val events = projected
      .filter(col("tag").isin("insert", "update", "delete"))
      .withColumn("valid_from", Envelope.lsnNumeric(col("lsn")))
      .drop("lsn")
    if (orderedTransport) events else events.dropDuplicates(keyCol, "valid_from")
  }

  /** The unordered fold: the SHARED [[Envelope.scd2Fold]] plus a
    * zero-width `[L, L)` tombstone row per ORPHAN delete — a delete
    * whose images haven't arrived yet. The fold alone would forget
    * that LSN and a later-arriving earlier insert would open `[K, ∞)`
    * instead of closing at `[K, L)`; the tombstone carries the delete
    * until an image lands before it, at which point the rebuild folds
    * it into a real closed interval and the zero-width row vanishes.
    * Point-in-time reads are untouched: no LSN satisfies
    * `valid_from ≤ x < valid_to` on a zero-width interval.
    *
    * ORPHAN = a delete whose LSN was NOT absorbed as any folded
    * interval's valid_to. The narrower screen "valid_from < min image
    * LSN" missed a delete whose immediately-preceding event is another
    * delete (insert@1, delete@5, delete@7 with insert@6 still in
    * flight: the lead-based fold drops delete@7 — 5 closes [1,5), 7
    * closes nothing — yet 7 > imgMin 1, so its LSN was silently lost
    * and insert@6's arrival rebuilt [6,∞) instead of [6,7)).
    * Anti-joining on (key, LSN) against the folded valid_to set is the
    * exact definition: whatever the fold didn't keep, the tombstone
    * carries. Distinct events never share an LSN, so an image's
    * lead-derived valid_to can only collide with the delete that
    * produced it. Shared by the parquet ([[materializeScd2]]) and JDBC
    * ([[materializeScd2Jdbc]]) unordered paths so they cannot drift. */
  private[streaming] def scd2FoldUnordered(allEvents: DataFrame, keyCol: String): DataFrame = {
    val folded = Envelope.scd2Fold(allEvents, keyCol)
    val absorbed = folded.filter(col("valid_to").isNotNull)
      .select(col(keyCol), col("valid_to").as("valid_from"))
    val orphan = allEvents.filter(col("tag") === "delete")
      .join(absorbed, Seq(keyCol, "valid_from"), "left_anti")
      .drop("tag")
      .withColumn("valid_to", col("valid_from"))
      .withColumn("is_current", lit(0))
    folded.unionByName(orphan, allowMissingColumns = true)
  }

  /** Unordered-transport per-key rebuild: a late event can land INSIDE
    * a key's closed history, so each touched key's WHOLE interval set
    * rebuilds from the union of its stored rows (`mine` — re-entering
    * as pseudo-events at their valid_from; zero-width [L, L) rows as
    * ORPHAN-DELETE tombstones; a valid_to no row of the key re-opens
    * as the delete the history absorbed) and the batch's genuinely-new
    * `events` — same per-key O(history) cost class the touched-key
    * split already pays. Replays stay no-ops because an LSN the
    * history absorbed (as a row start or a tombstone) is screened out
    * — the unordered twin of the high-water screen. `events` must
    * already be transport-deduped on (keyCol, valid_from). */
  private[streaming] def scd2RebuildUnordered(mine: DataFrame, events: DataFrame,
      keyCol: String): DataFrame = {
    val zero = mine.filter(col("valid_to").isNotNull &&
      col("valid_to") === col("valid_from"))
    val real = mine.filter(col("valid_to").isNull ||
      col("valid_to") =!= col("valid_from"))
    val rowEvents = real.drop("valid_to", "is_current")
      .withColumn("tag", lit("insert"))
    val froms = real.select(col(keyCol), col("valid_from"))
    val tomb = real.filter(col("valid_to").isNotNull)
      .select(col(keyCol), col("valid_to").as("valid_from"))
      .join(froms, Seq(keyCol, "valid_from"), "left_anti")
      .unionByName(zero.select(col(keyCol), col("valid_from")))
      .withColumn("tag", lit("delete"))
    val seen = froms.unionByName(tomb.select(col(keyCol), col("valid_from")))
    val fresh = events.join(seen, Seq(keyCol, "valid_from"), "left_anti")
    scd2FoldUnordered(
      rowEvents
        .unionByName(tomb, allowMissingColumns = true)
        .unionByName(fresh, allowMissingColumns = true), keyCol)
  }

  /** One relation's reduced micro-batch merged into its parquet state —
    * the per-target apply [[materialize]] runs for [[materializeCdc]]
    * (one relation) and [[materializeCdcTables]] (N demuxed relations,
    * one call each). The caller skips relations with no events in the
    * batch: rewriting an untouched relation's whole state parquet every
    * micro-batch would make quiet relations pay the busiest relation's
    * write amplification. */
  private def applyBatchParquet(projected: DataFrame, statePath: String,
      batchId: Long, keyCol: String, orderedTransport: Boolean,
      casTombstoneRetention: Long, statePartitions: Int): Unit = {
    val spark = projected.sparkSession
    // driver rows (materialize's small-batch frame) on the ordered path
    // reduce on the driver: no window, no shuffle, no job
    val reduced =
      if (orderedTransport && onDriver(projected) &&
          graft.expressions.InKeySet.exact(projected.schema(keyCol).dataType))
        reduceOnDriver(projected, keyCol)
      else reduceBatch(projected, keyCol)
    require(!reduced.columns.exists(_.equalsIgnoreCase(casBatchCol)),
      s"[graft] materializeCdc reserves column '$casBatchCol' — rename it in the source schema")
    if (statePartitions > 0)
      require(!reduced.columns.exists(_.equalsIgnoreCase(bucketCol)),
        s"[graft] partitioned materializeCdc reserves column '$bucketCol' — rename it in the source schema")
    // ordered transports don't need the LSN once the batch is
    // reduced; the CAS path keeps it as the state's version column,
    // plus the arrival-batch stamp that ages tombstones for GC
    val changes0 =
      if (orderedTransport) reduced.drop("lsn")
      else reduced.withColumn(casBatchCol, lit(batchId))
    // Partitioned state: the key's bucket is part of the ON-DISK
    // LAYOUT (dir names), so the hash and count are layout contracts
    // — the sink-binding tag pins the count; xxhash64's seed-42
    // output is deterministic and version-stable the same way the
    // md5-based sampling buckets are.
    val changes =
      if (statePartitions > 0) changes0.withColumn(bucketCol, bucketExpr(keyCol, statePartitions))
      else changes0
    // Partitioned-mode batch classification (see ParquetState): the
    // steady state reads ONLY the touched buckets (partition-pruned
    // scan) and overwrites only those; first write, layout migration
    // and additive/widening drift rewrite the state whole
    val st = new ParquetState(spark, statePath)
    val driftTarget =
      if (orderedTransport) changes.drop("op").schema else changes.schema
    val incremental = statePartitions > 0 && st.incremental(driftTarget)
    val touched: Seq[Int] =
      if (incremental)
        changes.select(col(bucketCol)).distinct().collect().map(_.getInt(0)).toSeq
      else Seq.empty // bounded by statePartitions, like the census collect
    val base0 = st.onDisk match {
      case Some(full) if incremental => full.filter(col(bucketCol).isin(touched: _*))
      case Some(full) if statePartitions > 0 && !st.partitioned =>
        // one-time layout migration: derive each state row's bucket
        // from its key; this batch rewrites the state whole, after
        // which every batch is incremental
        full.withColumn(bucketCol, bucketExpr(keyCol, statePartitions))
      case Some(full) => full
      case None =>
        if (orderedTransport) changes.drop("op").limit(0)
        else changes.limit(0) // first batch: empty state, same schema
    }
    if (st.onDisk.isDefined) requireCompatibleDrift(base0.schema, changes.schema, statePath)
    // ADDITIVE SCHEMA DRIFT: after a drift restart the change batch
    // carries columns the accumulated state predates — null-fill the
    // base so history widens in place (each batch rewrites the state
    // parquet whole, so the widened schema is immediately coherent;
    // no mergeSchema multi-footer read needed). The CAS merge needs
    // identical columns, so a column the state has but an older
    // producer's batch lacks is null-filled on the change side too —
    // correct under whole-row full-image semantics: the image simply
    // has no value for it. Ordered mode leaves changes untouched:
    // requireCompatibleDrift refuses a state column the batch lacks,
    // so after this widen the change set carries every base value
    // column — the precondition of Merge's full-image shape.
    //
    // TYPE drift (int→bigint and friends) is handled for shared
    // columns by upcasting BOTH sides to the wider numeric type —
    // the other common ALTER COLUMN migration. Incompatible type
    // changes fail loudly in the merge's analysis rather than
    // guessing.
    def widen(df: DataFrame, to: org.apache.spark.sql.types.StructType): DataFrame = {
      val added = to.fields.filterNot(f => df.columns.exists(_.equalsIgnoreCase(f.name)))
        .foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
      to.fields.foldLeft(added) { (d, f) =>
        d.columns.find(_.equalsIgnoreCase(f.name)) match {
          case Some(own) =>
            val ownType = d.schema(own).dataType
            Envelope.widerNumericType(ownType, f.dataType) match {
              case Some(w) if w != ownType => d.withColumn(own, col(own).cast(w))
              case _ => d
            }
          case None => d
        }
      }
    }
    val base =
      if (orderedTransport) widen(base0, changes.drop("op").schema)
      else
        // LSN canonicalization migration: change LSNs are normalized
        // to fixed-width %08X/%08X at the projection edge (r10);
        // state written by earlier code may hold raw variable-width
        // wire LSNs, which compare WRONG against canonical ones.
        // Normalizing the base's version column on read is a no-op
        // for canonical values and auto-migrates old state — one
        // touched batch completes the migration for the relation
        // (per BUCKET in the partitioned layout: untouched buckets
        // normalize on every read until their first rewrite).
        widen(base0, changes.schema)
          .withColumn("lsn", Envelope.normalizeLsn(col("lsn")))
    val casChanges =
      if (orderedTransport) changes
      else widen(changes, base0.schema)
    // Full images: pgoutput new-images are FULL rows, so a change's
    // NULL is a real NULL and must clear the base value — coalesce
    // semantics would diverge from last-image batch replay.
    // Small-changes path (both modes): a micro-batch is ≪ the
    // accumulated state, so the change set broadcasts and the state
    // table is scanned, never shuffled — per-batch latency stays
    // flat as state grows. Ordered mode scans the state ONCE: the
    // pass-through anti join takes its touched keys from the
    // pre-reduce events (the same key set, with no shuffle), so the
    // reduce runs once, feeding only the change images. Over driver
    // rows those keys are a driver-side relation, and Merge filters
    // the state scan by them instead of broadcasting: the write is the
    // relation's only job. CAS mode joins both versions and scans it
    // twice.
    val merged0 =
      if (orderedTransport)
        graft.ops.Merge.upsertFullImages(base, changes, keyCol, "op",
          touchedKeys = projected.select(col(keyCol)))
      else
        graft.ops.Merge.upsertVersioned(base, casChanges, keyCol, "lsn",
          cacheMatched = false)
    // Tombstone GC: a CAS winner keeps ITS OWN arrival-batch stamp
    // (whole-row CAS), so a tombstone's age counts from the delete's
    // arrival, not from later batches it merely survived. Replay of
    // this batch recomputes the same batchId → the same compaction
    // decision — idempotent like the merge itself. Rows carried over
    // from a PRE-UPGRADE state (written before the stamp column
    // existed — widen() null-fills it, and the CAS keeps base rows
    // whole, so the NULL would persist) are backfilled with THIS
    // batch's id: they age from the upgrade batch. Without the
    // backfill, `batchId - NULL > retention` is NULL and a
    // null-blind filter would delete every pre-upgrade tombstone on
    // the first post-upgrade batch, letting late older updates
    // resurrect deleted keys. The filter itself runs only under a
    // FINITE horizon, matching materializeCdcJdbc's gate.
    val merged =
      if (orderedTransport) merged0
      else {
        val stamped = merged0.withColumn(casBatchCol,
          coalesce(col(casBatchCol), lit(batchId)))
        if (casTombstoneRetention == Long.MaxValue) stamped
        else stamped.filter(
          !(col("op") === "D" &&
            lit(batchId) - col(casBatchCol) > lit(casTombstoneRetention)))
      }
    st.write(merged, batchId, incremental)
  }

  /** Partition-bucket of a state key: deterministic, version-stable,
    * uniform. Part of the on-disk contract once a partitioned state
    * exists — the sink binding pins the COUNT so a restart can't
    * silently re-route keys across buckets. */
  private[graft] def bucketExpr(keyCol: String, statePartitions: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(col(keyCol)), lit(statePartitions.toLong)).cast("int")

  /** The parquet state commit: the one open-classify-write step behind
    * [[applyBatchParquet]], [[applyBatchScd2]] and [[compactScd2]], so
    * every parquet sink's exactly-once argument rests on one code path.
    *
    * Constructing one OPENS the state: [[recoverCdcState]] first, then
    * ONE read of it. Every read re-lists the state (every bucket dir; a
    * driver job only past Spark's 32-path parallel-discovery threshold)
    * and reads one footer on the driver (readParquet: no inference
    * job), so the layout probe, the drift probe and the caller's base
    * all share this DataFrame's file index.
    *
    * [[write]] lands the caller's output one of two ways:
    *
    *  - INCREMENTAL, only the touched buckets: a dynamic partition
    *    overwrite replaces just the bucket dirs present in the output;
    *    untouched buckets' files are not read, written or moved. No
    *    swap is needed: in-flight task output stages under dot-prefixed
    *    dirs readers ignore, a crash anywhere before the checkpoint
    *    commit replays the batch, and re-applying it to a bucket is
    *    idempotent whether that bucket was already replaced or not.
    *    Every bucket always has a live dir, so there is no empty base
    *    to merge into.
    *  - WHOLE: the first write, an unpartitioned state, a layout
    *    migration (state that predates partitioning), or additive/
    *    widening drift (EVERY bucket's schema must widen coherently).
    *    The output lands complete in `<state>__swap_<id>`, then the
    *    rename-aside swap: `state` is moved to `__prev`, never deleted,
    *    before the swap dir is renamed into place. Each rename is
    *    atomic on a local FS / HDFS, so every crash point leaves either
    *    the old state or a completed swap dir, which [[recoverCdcState]]
    *    promotes at the next open.
    *
    * A partitioned output (one carrying [[bucketCol]]) is written ONE
    * FILE PER BUCKET: partitionBy alone lets every write task emit a
    * file into every bucket dir it holds rows for — at 32 tasks × n
    * buckets an n×32 small-file explosion whose per-file open cost then
    * dominates every later read. Clustering rows by bucket first makes
    * each bucket dir exactly one file.
    *
    * An unpartitioned output that reads only files and driver rows (the
    * state and [[materialize]]'s small-batch relations) is written as
    * ⌈its plan-size estimate / `spark.sql.files.maxPartitionBytes`⌉
    * files, at least one. Left alone, the write emits one file per
    * upstream partition (state splits plus change partitions): a 25 KB
    * state became 5 files of 2–13 KB, each with its own task, footer
    * and open cost on every later read. The coalesce adds no shuffle,
    * and so it also sets the parallelism of everything after the
    * output's last shuffle; an output that reads the streamed batch (a
    * persisted batch over the bound, the SCD2 apply) keeps its
    * upstream partitions, so a large snapshot or catch-up batch is
    * still reduced and written by as many tasks as its shuffle has. */
  private final class ParquetState(spark: SparkSession, statePath: String) {
    private val state = new org.apache.hadoop.fs.Path(statePath)
    val fs: org.apache.hadoop.fs.FileSystem =
      state.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCdcState(fs, statePath)

    /** The state as it stands, or None before the first write. */
    val onDisk: Option[DataFrame] =
      if (fs.exists(state)) Some(readParquet(spark, statePath)) else None

    /** Files for an unpartitioned write of `out`: ⌈its analyzed plan's
      * size estimate (state scan plus changes) / maxPartitionBytes⌉, at
      * least 1, when every leaf is a file scan or a `LocalRelation`;
      * None, keeping `out`'s partitions, when it reads anything else. */
    private def files(out: DataFrame): Option[Int] = {
      import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
      import org.apache.spark.sql.execution.datasources.LogicalRelation
      val plan = out.queryExecution.analyzed
      val sized = plan.collectLeaves().forall {
        case _: LocalRelation | _: LogicalRelation => true
        case _ => false
      }
      val max = BigInt(spark.sessionState.conf.filesMaxPartitionBytes)
      if (!sized) None
      else Some(((plan.stats.sizeInBytes + max - 1) / max).max(BigInt(1)).min(BigInt(Int.MaxValue)).toInt)
    }

    /** Is the on-disk layout already bucket-partitioned? */
    val partitioned: Boolean = onDisk.exists(_.columns.contains(bucketCol))

    /** Can an output of schema `target` overwrite just its touched
      * buckets? Only over a partitioned layout, and only when writing
      * `target` needs no widening of the state (new columns, or numeric
      * upcasts of shared ones) — decided from the footer alone, before
      * any data is read. */
    def incremental(target: org.apache.spark.sql.types.StructType): Boolean =
      partitioned && !target.fields.exists { f =>
        onDisk.get.schema.fields.find(_.name.equalsIgnoreCase(f.name)) match {
          case None => true
          case Some(own) =>
            Envelope.widerNumericType(own.dataType, f.dataType).exists(_ != own.dataType)
        }
      }

    /** Land `out` as the new state: its touched buckets only when
      * `incremental`, else whole through `<state>__swap_<swapId>`. */
    def write(out: DataFrame, swapId: Long, incremental: Boolean): Unit = {
      val bucketed = out.columns.contains(bucketCol)
      val w0 = (if (bucketed) out.repartition(col(bucketCol))
        else files(out).fold(out)(out.coalesce)).write.mode("overwrite")
      val w = if (bucketed) w0.partitionBy(bucketCol) else w0
      if (incremental) w.option("partitionOverwriteMode", "dynamic").parquet(statePath)
      else {
        val tmp = new org.apache.hadoop.fs.Path(s"${statePath}__swap_$swapId")
        w.parquet(tmp.toString)
        val prev = new org.apache.hadoop.fs.Path(s"${statePath}__prev")
        if (fs.exists(state)) {
          if (fs.exists(prev)) checkedFs(fs.delete(prev, true), s"delete $prev")
          checkedFs(fs.rename(state, prev), s"rename $state -> $prev")
        }
        checkedFs(fs.rename(tmp, state), s"rename $tmp -> $state")
        // failing the cleanup delete also aborts and replays; that replay
        // is idempotent (the state already swapped; recovery sweeps prev)
        if (fs.exists(prev)) checkedFs(fs.delete(prev, true), s"delete $prev")
      }
    }
  }

  /** Bucket partition column of the PARTITIONED state layout
    * ([[materializeCdc]] `statePartitions`), reserved like 'op'. NOT
    * underscore-prefixed: it names partition DIRECTORIES
    * (`graft_bucket=17/`), and file-source readers skip `_`/`.`
    * prefixed paths entirely. */
  private[graft] val bucketCol = "graft_bucket"

  /** Multi-table CDC materialization — the engine-side rendering of the
    * reference's `FOR ALL TABLES` publication
    * (`/root/reference/src/utilities/query.ts:12`,
    * `terraform/setup_database.sql:17`: ONE slot carries `students`
    * AND `status`): one stream, one checkpoint, N registered relations
    * demuxed per micro-batch into one state table each at
    * `stateRoot/<relation>`. Each relation's sub-batch goes through
    * its registered projection ([[Envelope.projectRelation]]) and the
    * exact reduce→merge→swap of the single-table path, so every
    * relation's state equals what a dedicated single-table stream over
    * its events alone would have produced — checkpoint offsets stay
    * shared, preserving the transport's cross-table delivery position
    * (one slot, one ack, as in the reference). The batch is read once
    * for all N demux passes: collected to the driver when it is small
    * ([[batchFrame]]), else persisted, so the source isn't re-read per
    * relation. Events whose `table` is not registered FAIL the batch
    * loudly: silently dropping them is data loss, silently merging
    * them (the pre-demux behavior) corrupts keys across relations.
    * Read a relation's live rows with
    * `cdcLiveState(spark, s"$stateRoot/<relation>")`. */
  def materializeCdcTables(envelopes: DataFrame, checkpoint: String,
      stateRoot: String, relations: Seq[Envelope.Relation],
      orderedTransport: Boolean = true,
      casTombstoneRetention: Long = Long.MaxValue,
      maxConcurrentRelations: Int = 1,
      statePartitions: Int = 0): StreamingQuery = {
    requireDistinctStateDirs(relations)
    materialize(envelopes, checkpoint,
      s"parquet-multi:$stateRoot:${modeTag(orderedTransport)}${partitionTag(statePartitions)}",
      Demux(relations, maxConcurrentRelations), driverRows = true) { (t, batchId, _) =>
      applyBatchParquet(t.events, s"$stateRoot/${t.name}", batchId, t.keyCol,
        orderedTransport, casTombstoneRetention, statePartitions)
    }
  }

  /** Multi-table SCD2 materialization — [[materializeScd2]] demuxed per
    * registered relation exactly as [[materializeCdcTables]] demuxes the
    * last-image state: one stream, one checkpoint, N relations each
    * folding into its own type-2 history at `stateRoot/<relation>`
    * under its own key. The census/quiet-skip, stray-table refusal,
    * name-collision guard, optional concurrent applies, and bucket
    * layout all carry over; each relation's history equals what a
    * dedicated single-relation stream over its events alone would
    * produce (MultiTableCdcSpec pins this against the batch fold). */
  def materializeScd2Tables(envelopes: DataFrame, checkpoint: String,
      stateRoot: String, relations: Seq[Envelope.Relation],
      maxConcurrentRelations: Int = 1,
      statePartitions: Int = 0,
      orderedTransport: Boolean = true): StreamingQuery = {
    requireDistinctStateDirs(relations)
    materialize(envelopes, checkpoint,
      s"parquet-multi:$stateRoot:scd2${partitionTag(statePartitions)}${oooTag(orderedTransport)}",
      Demux(relations, maxConcurrentRelations)) { (t, batchId, _) =>
      applyBatchScd2(t.events, s"$stateRoot/${t.name}", batchId, statePartitions,
        t.keyCol, orderedTransport)
    }
  }

  /** Each relation's state dir sits NEXT TO its siblings under
    * stateRoot, and every apply runs recoverCdcState, whose crash sweep
    * deletes `<state>__prev` and `<state>__swap_<batchId>` siblings — a
    * relation NAMED like another's bookkeeping would have its entire
    * state destroyed by that sweep. Refuse at build (both parquet
    * demuxes). */
  private def requireDistinctStateDirs(relations: Seq[Envelope.Relation]): Unit =
    for (a <- relations.map(_.name); b <- relations.map(_.name) if a != b)
      require(b != s"${a}__prev" && b != s"${a}__compact_horizon" &&
          !(b.startsWith(s"${a}__swap_") && b.stripPrefix(s"${a}__swap_").matches("\\d+")),
        s"[graft] relation name '$b' collides with relation '$a''s state-swap bookkeeping " +
          s"(<state>__prev / <state>__swap_<batchId>) — '$a''s crash recovery would sweep " +
          s"'$b''s state dir; rename one of them")

  /** Two relations mapped to ONE target table would silently
    * interleave their histories (the drift guard even widens the
    * table with the union of both schemas) — refuse at build, the
    * JDBC twin of the parquet demuxes' state-dir collision guard. */
  private def requireDistinctTargets(relations: Seq[Envelope.Relation],
      tableNames: String => String): Unit = {
    val targets = relations.map(r => tableNames(r.name))
    val dup = targets.diff(targets.distinct).distinct
    require(dup.isEmpty,
      s"[graft] tableNames maps two relations to the same table (${dup.mkString(", ")}) — " +
        "per-relation materializations must not interleave; fix the mapping")
    // a target may also collide with ANOTHER target's JDBC compaction
    // sidecar '<table>_graft_horizon' (graft.sources.Jdbc.horizonTable):
    // its rows would be read back as a horizon marker and clobbered by
    // compactScd2Table — the parquet side's '__compact_horizon' name
    // guard, mirrored here (r21, ADVICE)
    val sidecars = targets.map(t => s"${t}_graft_horizon").toSet
    val clash = targets.filter(sidecars.contains).distinct
    require(clash.isEmpty,
      s"[graft] tableNames maps a relation to ${clash.mkString(", ")}, which is another " +
        "target's compaction-horizon sidecar name — rename the target")
  }

  /** Run the per-relation applies of one micro-batch, optionally
    * `parallelism`-wide. The applies are INDEPENDENT by construction —
    * disjoint state dirs / tables, each internally idempotent — so at
    * FOR ALL TABLES catalog sizes (hundreds of relations, most quiet
    * in any batch) the sequential loop's N× driver round-trips, not
    * the data volume, becomes the micro-batch floor; concurrent
    * applies overlap them (Spark actions are thread-safe across
    * jobs). Failure semantics are unchanged: every apply settles
    * before the first failure is rethrown (no writes stay in flight
    * into recovery), the batch misses its checkpoint commit, and the
    * replay re-lands completed relations as no-ops — the exact
    * contract the mid-demux crash test pins for the sequential path. */
  private def applyRelations[T](targets: Seq[T], parallelism: Int)(apply: T => Unit): Unit =
    if (parallelism <= 1 || targets.size <= 1) targets.foreach(apply)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(parallelism, targets.size))
      try {
        val futures = targets.map { r =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = apply(r)
          })
        }
        // settle ALL before rethrowing: a bare foreach(_.get()) throws
        // at the first failed future in LIST order while later applies
        // are still writing — the restart's replay would then race the
        // orphaned in-flight swap on the same state dir
        val settled = futures.map(f => scala.util.Try(f.get()))
        settled.collectFirst { case scala.util.Failure(t) => t }.foreach {
          case e: java.util.concurrent.ExecutionException if e.getCause != null => throw e.getCause
          case e => throw e
        }
      } finally pool.shutdown()
    }

  /** A single-table materializer fed a multi-table stream would merge
    * keys ACROSS relations (student 7 and status 7 collapse to one
    * row) — fail the batch instead. One [[tallyTables]] pass answers
    * it: a NULL name is ignored, but its events still count. Returns
    * the observed table name (when the envelope carries one) and the
    * batch's row-change event count — the pass doubles as the persist
    * materialization (over driver rows it runs no job) AND the caller's
    * empty-batch probe, so no second job re-asks either question. */
  private def requireSingleTable(batch: DataFrame, op: String,
      alt: String): (Option[String], Long) = {
    val tally = tallyTables(batch, Some(_))
    val tbls = tally.keys.flatten.toSeq.sorted
    require(tbls.size <= 1,
      s"[graft] $op materializes ONE relation but this batch carries tables " +
        tbls.mkString("'", "', '", "'") +
        s" — a FOR ALL TABLES publication must go through $alt, which demuxes per relation")
    (tbls.headOption, tally.values.sum)
  }

  /** Row-change events of a micro-batch per `bucket(table)` (None for
    * a NULL name, or for a batch without a `table` column). Over driver
    * rows ([[batchFrame]]) the fold runs once on the driver, with no
    * job. Over a persisted batch it is ONE job: each partition tallies
    * its own events and the driver merges the tallies. No Exchange
    * means AQE stages nothing apart, so that job also fills the cache;
    * a global aggregate would run as three (cache stage, shuffle map,
    * result). The driver pulls one entry per bucket per partition. */
  private def tallyTables(batch: DataFrame,
      bucket: String => Option[String]): Map[Option[String], Long] = {
    val name = if (batch.columns.contains("table")) col("table") else lit(null).cast("string")
    val names = batch.filter(Envelope.tagFilter).select(name)
    val parts =
      if (onDriver(names)) Array(tally(names.queryExecution.executedPlan.executeCollect().iterator, bucket))
      else names.queryExecution.toRdd.mapPartitions(rows => Iterator.single(tally(rows, bucket))).collect()
    parts.foldLeft(Map.empty[Option[String], Long]) { (all, part) =>
      part.foldLeft(all) { case (m, (k, n)) => m.updated(k, m.getOrElse(k, 0L) + n) }
    }
  }

  /** The one tally fold, run per partition on the executors or once
    * over driver rows: `(table name)` rows counted per bucket. */
  private def tally(rows: Iterator[org.apache.spark.sql.catalyst.InternalRow],
      bucket: String => Option[String]): Map[Option[String], Long] = {
    val counts = scala.collection.mutable.HashMap.empty[Option[String], Long]
    rows.foreach { r =>
      val k = if (r.isNullAt(0)) None else bucket(r.getUTF8String(0).toString)
      counts(k) = counts.getOrElse(k, 0L) + 1L
    }
    counts.toMap
  }

  /** The cross-BATCH twin of [[requireSingleTable]]: with per-table
    * chunk files and `maxFilesPerTrigger = 1`, every batch is
    * single-table while the stream as a whole interleaves relations —
    * each batch passes the per-batch guard and the materializer merges
    * keys across tables anyway. Bind the FIRST observed table name
    * into the checkpoint (`graft_source_table`, temp+rename like the
    * sink identity) and require every later batch — across restarts —
    * to match. The in-memory cache keeps the steady state at zero
    * filesystem reads; the file makes the bind survive restarts. */
  private def requireTableBinding(hconf: org.apache.hadoop.conf.Configuration,
      checkpoint: String, observed: String, alt: String,
      cache: java.util.concurrent.atomic.AtomicReference[String]): Unit = {
    if (cache.get() == null)
      cache.set(bindCheckpointFile(hconf,
        new org.apache.hadoop.fs.Path(checkpoint, "graft_source_table"), observed))
    val expect = cache.get()
    require(expect == observed,
      s"[graft] this checkpoint materializes relation '$expect' but the stream now " +
        s"carries '$observed' — a multi-table publication delivering one table per " +
        s"micro-batch still merges keys across relations here; use $alt, or point " +
        s"each relation at its own checkpoint+sink")
  }

  /** NON-ADDITIVE schema drift fails loudly BEFORE any state is
    * touched — the two migrations a streaming restart must not paper
    * over:
    *
    *  - COLUMN REMOVAL: a state column absent from the incoming change
    *    schema. Silently null-filling it (the additive machinery's
    *    move) would erase real history column-wide on the next whole-
    *    state rewrite; a dropped producer column is a deliberate
    *    migration (rewrite the state, re-bind the checkpoint), not a
    *    restart. Replayed PRE-drift batches never trip this: a restart
    *    re-reads them under the CURRENT envelope schema, so the column
    *    is present (null-valued), not missing.
    *  - INCOMPATIBLE TYPE CHANGE: a shared column whose state/change
    *    types admit no safe in-family numeric widening (int→string and
    *    friends). Guessing a cast either loses data or poisons the
    *    column; fail with the pair instead.
    */
  private def requireCompatibleDrift(baseSchema: org.apache.spark.sql.types.StructType,
      changeSchema: org.apache.spark.sql.types.StructType, where: String): Unit = {
    val lower = (s: String) => s.toLowerCase(java.util.Locale.ROOT)
    val bookkeeping = Set("op", "lsn", lower(casBatchCol))
    val changeByName = changeSchema.fields.map(f => lower(f.name) -> f).toMap
    val removed = baseSchema.fields.filterNot(f =>
      bookkeeping(lower(f.name)) || changeByName.contains(lower(f.name)))
    if (removed.nonEmpty) throw new IllegalStateException(
      s"[graft] non-additive schema drift at $where: state column(s) " +
        removed.map(_.name).mkString("'", "', '", "'") +
        " are absent from the incoming change schema — column removal is a deliberate " +
        "migration (rewrite the state, re-bind the checkpoint), not a streaming restart")
    baseSchema.fields.foreach { f =>
      changeByName.get(lower(f.name)).foreach { g =>
        if (f.dataType != g.dataType &&
            Envelope.widerNumericType(f.dataType, g.dataType).isEmpty)
          throw new IllegalStateException(
            s"[graft] incompatible type drift at $where: column '${f.name}' is " +
              s"${f.dataType.simpleString} in the state but ${g.dataType.simpleString} " +
              "in the change batch — no safe widening exists; migrate the state deliberately")
      }
    }
  }

  /** The JDBC rendering of [[requireCompatibleDrift]], against the
    * remote table's JDBC metadata: removal = a remote column absent
    * from the incoming schema; incompatibility = a shared column whose
    * JDBC type family and Spark type family differ (in-family widening
    * like INT→BIGINT stays the database's business — Streams only
    * refuses what has no safe interpretation at all). No-op while the
    * table doesn't exist yet. */
  private def requireCompatibleDriftJdbc(remote: Map[String, graft.sources.Jdbc.ColumnMeta],
      url: String, table: String,
      incoming: org.apache.spark.sql.types.StructType,
      allowSinkOnlyColumns: Boolean): Unit = {
    if (remote.nonEmpty) {
      val lower = (s: String) => s.toLowerCase(java.util.Locale.ROOT)
      val bookkeeping = Set("op", "lsn", lower(casBatchCol))
      val incomingByName = incoming.fields.map(f => lower(f.name) -> f).toMap
      // A remote-only column is ambiguous at a SQL sink: producer
      // column REMOVAL (must fail — the strict default), or a
      // DBA-added sink-side column the materializer never wrote
      // (audit timestamps etc.). `allowSinkOnlyColumns` opts into the
      // latter reading for columns an INSERT may omit (nullable or
      // defaulted); a NOT NULL column without a default still fails —
      // every batch INSERT would die on it anyway. MODE CAVEAT: the
      // ordered apply is delete+reinsert, so a touched key's sink-only
      // values reset to their DEFAULT (or NULL) on every change — the
      // right semantics for a per-write audit stamp, wrong for
      // manually-curated values; CAS mode UPDATEs only the change
      // columns and preserves them.
      val removed = remote.filterNot { case (c, m) =>
        bookkeeping(c) || incomingByName.contains(c) ||
          (allowSinkOnlyColumns && (m.nullable || m.hasDefault))
      }.keys.toSeq.sorted
      if (removed.nonEmpty) throw new IllegalStateException(
        s"[graft] non-additive schema drift at $url#$table: table column(s) " +
          removed.mkString("'", "', '", "'") +
          " are absent from the incoming change schema — column removal is a deliberate " +
          "migration (migrate the table, re-bind the checkpoint), not a streaming " +
          "restart. (A DBA-added nullable/defaulted sink column is accepted under " +
          "allowSinkOnlyColumns = true.)")
      incoming.fields.foreach { f =>
        remote.get(lower(f.name)).foreach { m =>
          val (rf, sf) = (graft.sources.Jdbc.typeFamily(m.jdbcType),
            graft.sources.Jdbc.typeFamily(f.dataType))
          if (rf != sf) throw new IllegalStateException(
            s"[graft] incompatible type drift at $url#$table: column '${f.name}' is " +
              s"$rf (JDBC type ${m.jdbcType}) in the table but $sf " +
              s"(${f.dataType.simpleString}) in the change batch — no safe widening " +
              "exists; migrate the table deliberately")
        }
      }
    }
  }

  /** One census per demuxed micro-batch: row-change event count per
    * REGISTERED table name, from one [[tallyTables]] pass. Over a
    * persisted batch the pass doubles as the persist materialization —
    * the first action over the cached batch; over driver rows it runs
    * no job. Its result answers BOTH guard questions with zero further
    * jobs on the happy path:
    *
    *  - events for tables absent from the registry fail the batch
    *    loudly (data loss if dropped, cross-relation corruption if
    *    merged) — the former dedicated stray-scan job, now in-flight;
    *  - relations QUIET in this batch are skipped by the demux loop
    *    without so much as a per-relation probe job (parquet) or
    *    metadata round-trip (JDBC) — at FOR ALL TABLES catalog sizes
    *    most relations are quiet in any batch, so per-batch cost
    *    scales with the relations the batch TOUCHES, not the catalog.
    *
    * Every unregistered (or NULL) table name folds into ONE overflow
    * key inside the partition, so the driver pulls at most catalog+1
    * entries per partition even from a misbound feed whose 'table'
    * field carries per-row garbage — an unbounded per-name tally there
    * would stall the driver before the guard could fire. Stray NAMES
    * for the error message come from a second bounded sample job that
    * runs only on the already-fatal path. */
  private def tableCensus(batch: DataFrame, known: Seq[String]): Map[String, Long] = {
    val registered = known.toSet
    val tally = tallyTables(batch, name => Some(name).filter(registered))
    if (tally.getOrElse(None, 0L) > 0L) {
      val knownAny = known.map(x => x: Any)
      val sample = batch.filter(Envelope.tagFilter)
        .filter(col("table").isNull || !col("table").isin(knownAny: _*))
        .select("table").distinct().limit(5).collect()
        .map(r => Option(r.getString(0)).getOrElse("<null>")).sorted
      throw new IllegalArgumentException(
        s"[graft] CDC stream carries unregistered table(s) ${sample.mkString("'", "', '", "'")} — " +
          s"register every relation the publication ships (FOR ALL TABLES means exactly that) " +
          s"or filter the stream upstream; silently ignoring a relation's changes is data loss")
    }
    tally.collect { case (Some(t), n) => t -> n }
  }

  /** Bind a CDC checkpoint to the ONE sink it materializes. The
    * checkpoint's offsets mean "these batches are already applied" —
    * restarting the same checkpoint against a different state path /
    * table silently yields partial state (every pre-restart batch is
    * skipped there). The identity includes the TRANSPORT MODE: an
    * ordered restart of a CAS checkpoint (or vice versa) writes rows
    * whose bookkeeping the other mode's reader misreads — e.g. rows
    * applied without 'op' after a CAS→ordered flip read back op=NULL
    * and vanish from [[cdcLiveStateJdbc]] under three-valued logic.
    * First batch records the sink identity inside the checkpoint dir
    * (temp + rename, so a crash mid-write can't leave a partial file
    * that permanently fails every restart); every later batch requires
    * it to match. A deliberate migration moves the data first, then
    * deletes `graft_sink_identity` to re-bind. */
  private def requireSinkBinding(hconf: org.apache.hadoop.conf.Configuration,
      checkpoint: String, identity: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(checkpoint, "graft_sink_identity")
    val stored = bindCheckpointFile(hconf, p, identity)
    require(stored == identity,
      s"[graft] checkpoint $checkpoint is bound to sink '$stored' but this query " +
        s"materializes '$identity' — reusing offsets against a different sink silently " +
        s"skips every already-committed batch there; move the data and delete " +
        s"$p to re-bind deliberately")
  }

  /** Read the small UTF-8 checkpoint file `p`; when it is absent,
    * create it holding `value` first. Returns the stored value.
    * The create is temp + rename, so a crash mid-write cannot leave a
    * partial file that fails every restart. */
  private def bindCheckpointFile(hconf: org.apache.hadoop.conf.Configuration,
      p: org.apache.hadoop.fs.Path, value: String): String = {
    val fs = p.getFileSystem(hconf)
    if (fs.exists(p)) readUtf8(fs, p)
    else {
      val tmp = p.suffix(".tmp")
      val out = fs.create(tmp, true)
      try out.write(value.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      checkedFs(fs.rename(tmp, p), s"bind $tmp -> $p")
      value
    }
  }

  /** The whole content of the small UTF-8 file `p`. */
  private def readUtf8(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
      new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** The transport-mode component of a sink identity. */
  private def modeTag(orderedTransport: Boolean): String =
    if (orderedTransport) "ordered" else "cas"

  /** The SCD2 sinks' transport-mode suffix: none for ordered transport. */
  private def oooTag(orderedTransport: Boolean): String =
    if (orderedTransport) "" else ":ooo"

  /** Binding-tag suffix for the partitioned state layout: a restart
    * that changes the bucket COUNT would silently re-route keys into
    * different dirs (the same key duplicated across two buckets) — the
    * sink binding must refuse it like a mode flip. Unpartitioned runs
    * keep the historical tag so existing checkpoints stay valid. */
  private def partitionTag(statePartitions: Int): String =
    if (statePartitions > 0) s":b$statePartitions" else ""

  /** Per-batch change reduce shared by the materializers: latest image
    * per key (LSN order), deletes marked op='D'. 'op' is the
    * materialization's change-op marker: a payload column of that name
    * would be clobbered here, and [[cdcLiveState]]'s mode inference
    * reads its presence as "CAS state" — reserve it loudly
    * (Merge.presentCol style) instead of silently corrupting the state
    * schema. ('lsn'/'tag' are the envelope's own bookkeeping —
    * Envelope.project already owns those names.) */
  private def reduceBatch(projected: DataFrame, keyCol: String): DataFrame = {
    requireNoOpColumn(projected)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("lsn").desc)
    projected
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .withColumn("op", when(col("tag") === "delete", lit("D")).otherwise(lit("U")))
      .drop("__rn", "tag")
  }

  private def requireNoOpColumn(projected: DataFrame): Unit =
    require(!projected.columns.exists(_.equalsIgnoreCase("op")),
      s"[graft] CDC materialization reserves column 'op' for the change-op marker — " +
        s"rename it in the source schema: ${projected.columns.mkString("[", ", ", "]")}")

  /** [[reduceBatch]] over driver rows ([[batchFrame]]), folded on the
    * driver by `lastImageByKey`'s rule: per key the highest LSN wins and
    * a NULL LSN loses, as `orderBy(lsn.desc)` (NULLS LAST) ranks them;
    * LSNs compare as Spark compares strings. Same columns out (`tag`
    * dropped, `op` appended), as a driver-side relation. The key's type
    * must satisfy [[graft.expressions.InKeySet.exact]], so its external
    * values group exactly as the window's partitioning does. */
  private def reduceOnDriver(projected: DataFrame, keyCol: String): DataFrame = {
    requireNoOpColumn(projected)
    val schema = projected.schema
    val (ki, li, ti) = (schema.fieldIndex(keyCol), schema.fieldIndex("lsn"), schema.fieldIndex("tag"))
    def lsn(r: org.apache.spark.sql.Row) =
      Option(r.getString(li)).map(org.apache.spark.unsafe.types.UTF8String.fromString)
    val last = scala.collection.mutable.LinkedHashMap.empty[Any, org.apache.spark.sql.Row]
    projected.collect().foreach { r =>
      val wins = last.get(r.get(ki)).forall(w => (lsn(r), lsn(w)) match {
        case (Some(a), Some(b)) => a.compareTo(b) > 0
        case (a, b) => a.isDefined && b.isEmpty
      })
      if (wins) last(r.get(ki)) = r
    }
    val keep = schema.fields.indices.filter(_ != ti)
    val images = last.values.map(r => org.apache.spark.sql.Row.fromSeq(
      keep.map(r.get) :+ (if (r.getString(ti) == "delete") "D" else "U"))).toSeq
    projected.sparkSession.createDataFrame(java.util.Arrays.asList(images: _*),
      StructType(keep.map(schema.fields) :+ StructField("op", StringType, nullable = false)))
  }

  /** Streaming CDC materialization into a QUERYABLE JDBC TABLE — the
    * reference's consumer-side endpoint closed end-to-end: its producer
    * stops at the Event Hub send (`/root/reference/src/main.ts:69-90`);
    * the downstream consumer's job is exactly this operator. Each
    * micro-batch reduces to its last image per key and applies as an
    * idempotent per-key MERGE ([[graft.sources.Jdbc.applyChanges]]:
    * delete touched keys + reinsert the non-delete images, one
    * transaction per partition, executor-side). At-least-once delivery
    * from the checkpoint + idempotent apply = exactly-once-equivalent
    * table state, the same contract as [[materializeCdc]]'s parquet
    * swap — but with no swap at all, because the table IS the state and
    * delete+reinsert of the same image is already a replay no-op.
    * `orderedTransport = true` (the transport contract of a per-
    * partition-ordered CDC feed) applies each batch as delete+reinsert
    * of touched keys. With `orderedTransport = false` the table keeps
    * each key's winning `lsn` and its `op` as a TOMBSTONE marker —
    * the CAS state shape in SQL — and the apply is version-guarded
    * ([[graft.sources.Jdbc.applyChangesVersioned]]): a late or
    * replayed OLDER image can never overwrite a newer one, and a late
    * older update cannot resurrect a deleted key. Read live rows back
    * with [[cdcLiveStateJdbc]]. Additive schema drift flows through in
    * both modes: `ensureTable` runs every batch and widens the remote
    * table (`ALTER TABLE ADD COLUMN`, nullable) when a drift restart
    * brings new payload columns — pre-drift rows read back as NULL,
    * same contract as the parquet state's null-fill.
    *
    * LSN format note (r10): change LSNs arrive canonicalized to
    * fixed-width `%08X/%08X` ([[Envelope.normalizeLsn]]), so the CAS
    * guard's SQL `<` is numerically correct. A CAS table written by
    * pre-canonicalization code holds raw wire LSNs and needs the
    * one-time [[graft.sources.Jdbc.canonicalizeLsns]] migration
    * (idempotent, transactional; the stream-start probe names it when
    * it refuses) — the parquet path auto-migrates because it rewrites
    * state per batch; a SQL table's rows persist untouched, so it
    * cannot. */
  def materializeCdcJdbc(envelopes: DataFrame, checkpoint: String,
      url: String, table: String, props: Map[String, String] = Map.empty,
      orderedTransport: Boolean = true,
      casTombstoneRetention: Long = Long.MaxValue,
      allowSinkOnlyColumns: Boolean = false): StreamingQuery =
    materialize(envelopes, checkpoint, s"jdbc:$url#$table:${modeTag(orderedTransport)}",
      SingleTable("materializeCdcJdbc", "materializeCdcJdbcTables"),
      // a batch with no row events still applies: ensureTable creates
      // the table on the first batch (see applyBatchJdbc)
      applyQuiet = _ => true,
      // one canonical-LSN probe per stream START, not per batch (it is
      // a full scan): a pre-canonicalization CAS table mis-orders
      // against canonical change LSNs, so refuse to stream onto one
      onStart = () => if (!orderedTransport)
        graft.sources.Jdbc.requireCanonicalVersions(url, table, "lsn", props)) {
      (t, batchId, firstBatch) =>
        // the NULL-stamp backfill is an O(state) scan: first batch only
        applyBatchJdbc(t.events, url, table, batchId, t.keyCol, props,
          orderedTransport, casTombstoneRetention, allowSinkOnlyColumns,
          backfillStamps = firstBatch)
    }

  /** SCD2 → JDBC materialization: [[materializeScd2]]'s type-2 history
    * landed in a queryable warehouse table instead of parquet state —
    * the SCD2 twin of [[materializeCdcJdbc]] (which lands last-image
    * state). Table shape: payload columns + `valid_from`/`valid_to`
    * (numeric LSN bounds) + `is_current`, i.e. exactly the
    * [[Envelope.scd2Fold]] output, so [[Envelope.scd2AsOf]] works on a
    * `spark.read.jdbc` of it unchanged. Each micro-batch applies
    * through [[graft.sources.Jdbc.applyScd2]]: per key, events past
    * the stored high-water mark close the open interval and append
    * the new one — closed rows are immutable, only the open row ever
    * UPDATEs, and a replayed batch re-lands as a row-for-row no-op
    * (the screen reads the mark from the table itself, the same
    * contract that makes the parquet path byte-idempotent). With
    * `orderedTransport = false` the sink accepts out-of-order delivery
    * exactly as [[materializeScd2]] does: each touched key's interval
    * set rebuilds through the SHARED [[scd2RebuildUnordered]] (orphan
    * deletes persist as zero-width `[L, L)` rows until their images
    * land) and REPLACES the key's stored rows transactionally
    * ([[graft.sources.Jdbc.replaceScd2Keys]]); the replay screen reads
    * absorbed LSNs from the table's own rows, so lost-commit replays
    * stay row-for-row no-ops. The transport mode is part of the sink
    * identity — switching it on a live checkpoint refuses loudly.
    * Additive schema drift widens the remote table exactly as in
    * [[materializeCdcJdbc]] (nullable ALTER; pre-drift history reads
    * NULL). The table carries NO primary key — an SCD2 history is many
    * rows per key. A table this sink creates gets a non-unique index
    * `<table>_graft_key` on the key, which turns the hwm probe, the
    * open-row close and the unordered path's per-key DELETE into index
    * lookups; a table that already exists is left as its owner made it. */
  def materializeScd2Jdbc(envelopes: DataFrame, checkpoint: String,
      url: String, table: String, props: Map[String, String] = Map.empty,
      allowSinkOnlyColumns: Boolean = false,
      orderedTransport: Boolean = true): StreamingQuery =
    materialize(envelopes, checkpoint, s"jdbc-scd2:$url#$table${oooTag(orderedTransport)}",
      SingleTable("materializeScd2Jdbc", "materializeScd2JdbcTables")) { (t, _, _) =>
      applyBatchScd2Jdbc(t.events, url, table, t.keyCol, props, allowSinkOnlyColumns,
        orderedTransport)
    }

  /** Max keys per pushed-down IN predicate on the unordered SCD2 JDBC
    * read path — wide batches chunk into several pushed scans instead
    * of one unbounded IN list (remote engines cap SQL text/parameter
    * counts; Derby's and Postgres's practical limits sit far above
    * this, so the dial is conservative). */
  private[streaming] val scd2JdbcInChunk = 1000

  /** The driver-side step before every JDBC apply ([[applyBatchJdbc]],
    * [[applyBatchScd2Jdbc]]): ONE connection and ONE metadata probe per
    * batch for both the drift guard and `ensure` (`Jdbc.ensureTableOn`,
    * or `Jdbc.ensureScd2TableOn` for a history), instead of a
    * connection and a re-resolved identifier + columns per step. */
  private def guardAndEnsureJdbc(url: String, table: String, props: Map[String, String],
      schema: org.apache.spark.sql.types.StructType, keyCol: String,
      allowSinkOnlyColumns: Boolean)(ensure: (java.sql.Connection, String,
        org.apache.spark.sql.types.StructType, String, graft.sources.Jdbc.TableProbe) => Unit): Unit =
    graft.sources.Jdbc.withConnection(url, props) { c =>
      val probe = graft.sources.Jdbc.probeTable(c, table)
      requireCompatibleDriftJdbc(probe.columns, url, table, schema, allowSinkOnlyColumns)
      ensure(c, table, schema, keyCol, probe)
    }

  /** One relation's micro-batch folded into its JDBC SCD2 history —
    * the per-target apply [[materialize]] runs for [[materializeScd2Jdbc]]
    * and [[materializeScd2JdbcTables]] (the [[applyBatchJdbc]] split,
    * SCD2-shaped). */
  private def applyBatchScd2Jdbc(projected: DataFrame, url: String,
      table: String, keyCol: String, props: Map[String, String],
      allowSinkOnlyColumns: Boolean, orderedTransport: Boolean): Unit = {
    val events = scd2Events(projected, keyCol, orderedTransport)
    // the table's full shape: event payload + the interval columns
    val histSchema = org.apache.spark.sql.types.StructType(
      events.schema.fields.filterNot(_.name.equalsIgnoreCase("tag")) ++ Seq(
        org.apache.spark.sql.types.StructField("valid_to",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("is_current",
          org.apache.spark.sql.types.IntegerType, nullable = false)))
    guardAndEnsureJdbc(url, table, props, histSchema, keyCol, allowSinkOnlyColumns)(
      graft.sources.Jdbc.ensureScd2TableOn)
    if (orderedTransport)
      // one key never spans two transactions, and its events apply
      // in LSN order inside the partition. Per key: one hwm probe,
      // one close of the stored open row, one insert per fresh
      // non-delete event with its interval already known; closes and
      // inserts go out as statement batches per ≤ 1,000 keys
      graft.sources.Jdbc.applyScd2(
        events.repartition(col(keyCol)).sortWithinPartitions(col(keyCol), col("valid_from")),
        url, table, keyCol, "tag", props)
    else {
      // a late event can land INSIDE a key's closed history, so each
      // touched key's whole interval set rebuilds (the SHARED
      // scd2RebuildUnordered — parquet and JDBC cannot drift) from the
      // table's own rows + the batch, then REPLACES its stored rows.
      // The touched-key list is a batch-bounded driver collect (the
      // touched-bucket discipline); it re-enters the plan as IN
      // predicates the JDBC source pushes down, so the read is a
      // touched-keys scan, not O(state). The IN list is CHUNKED
      // (r21, ADVICE): one unbounded isin over a very wide batch can
      // exceed the remote engine's SQL/parameter limits — each chunk
      // becomes its own pushed-down scan and the union feeds ONE
      // rebuild+replace, so the apply semantics are unchanged. (A
      // production catalog with even wider batches would land the keys
      // in a temp table and push a join — same shape.)
      val keys = events.select(col(keyCol)).distinct().collect().map(_.get(0)).toSeq
      if (keys.nonEmpty) {
        val snap = graft.sources.Jdbc.snapshot(projected.sparkSession, url, table, props)
        val mine = keys.grouped(scd2JdbcInChunk)
          .map(ch => snap.filter(col(keyCol).isin(ch: _*)))
          .reduce(_ unionByName _)
        val rebuilt = scd2RebuildUnordered(mine, events, keyCol)
        graft.sources.Jdbc.replaceScd2Keys(
          rebuilt.repartition(col(keyCol)).sortWithinPartitions(col(keyCol), col("valid_from")),
          url, table, keyCol, props)
      }
    }
  }

  /** Multi-table SCD2 → JDBC materialization — the last cell of the
    * materializer matrix (CDC/SCD2 × parquet/JDBC × single/multi):
    * [[materializeScd2Tables]]'s demux with [[materializeScd2Jdbc]]'s
    * per-relation apply. One stream, one checkpoint, one queryable
    * type-2 history table per registered relation (`tableNames` maps
    * relation → table name; identity by default), each equal to what a
    * dedicated single-relation stream over its events alone would land
    * (MultiTableCdcSpec pins this against the q50 fold). Same loud
    * guard on unregistered tables, same exactly-once-equivalence: the
    * shared checkpoint replays the whole batch and every relation's
    * apply is a row-for-row no-op on replayed events (the high-water
    * screen reads from the relation's OWN table), so a crash between
    * relation applies re-lands the applied ones as no-ops and
    * completes the rest. The FIRST batch of a run applies every
    * relation (eager table creation, the [[materializeCdcJdbcTables]]
    * contract); later batches skip quiet relations outright — zero
    * Spark jobs and zero JDBC round-trips for the catalog's untouched
    * majority. Both transport modes, like [[materializeScd2Jdbc]]. */
  def materializeScd2JdbcTables(envelopes: DataFrame, checkpoint: String,
      url: String, relations: Seq[Envelope.Relation],
      tableNames: String => String = identity,
      props: Map[String, String] = Map.empty,
      maxConcurrentRelations: Int = 1,
      allowSinkOnlyColumns: Boolean = false,
      orderedTransport: Boolean = true): StreamingQuery = {
    requireDistinctTargets(relations, tableNames)
    materialize(envelopes, checkpoint,
      s"jdbc-scd2-multi:$url#${relations.map(r => tableNames(r.name)).sorted.mkString(",")}" +
        oooTag(orderedTransport),
      Demux(relations, maxConcurrentRelations), applyQuiet = firstBatch => firstBatch) {
      (t, _, _) =>
        applyBatchScd2Jdbc(t.events, url, tableNames(t.name), t.keyCol, props,
          allowSinkOnlyColumns, orderedTransport)
    }
  }

  /** One relation's reduced micro-batch applied to its JDBC table —
    * the per-target apply [[materialize]] runs for [[materializeCdcJdbc]]
    * and [[materializeCdcJdbcTables]]. No empty-batch skip HERE:
    * `ensureTable` is a scoped metadata read (plus the widening ALTER
    * when drift landed) and the table is created eagerly on the first
    * batch either way. The multi-table demux skips quiet relations
    * BEFORE this call on non-first batches (census-driven), so the
    * metadata round-trip is paid only by touched relations — and by
    * every relation on the first batch, which is what creates the
    * tables. */
  private def applyBatchJdbc(projected: DataFrame, url: String, table: String,
      batchId: Long, keyCol: String, props: Map[String, String],
      orderedTransport: Boolean, casTombstoneRetention: Long,
      allowSinkOnlyColumns: Boolean, backfillStamps: Boolean): Unit = {
    val reduced = reduceBatch(projected, keyCol)
    if (orderedTransport) {
      val changes = reduced.drop("lsn")
      val payload = org.apache.spark.sql.types.StructType(
        changes.schema.fields.filterNot(_.name.equalsIgnoreCase("op")))
      guardAndEnsureJdbc(url, table, props, payload, keyCol, allowSinkOnlyColumns)(
        graft.sources.Jdbc.ensureTableOn)
      graft.sources.Jdbc.applyChanges(changes, url, table, keyCol, "op", props)
    } else {
      // arrival-batch stamp ages tombstones, as in the parquet CAS
      // state; the winner keeps ITS OWN stamp (whole-row CAS), so a
      // tombstone's age counts from the delete's arrival
      require(!reduced.columns.exists(_.equalsIgnoreCase(casBatchCol)),
        s"[graft] materializeCdcJdbc reserves column '$casBatchCol' — rename it in the source schema")
      val stamped = reduced.withColumn(casBatchCol, lit(batchId))
      guardAndEnsureJdbc(url, table, props, stamped.schema, keyCol, allowSinkOnlyColumns)(
        graft.sources.Jdbc.ensureTableOn)
      // tombstone GC, same horizon contract as materializeCdc: one
      // driver-side DELETE per batch; replay recomputes the same
      // batchId → the same compaction decision (idempotent). Rows from
      // a pre-upgrade table (stamp column just widened in, NULL) are
      // first backfilled to age from THIS batch — `stamp < ?` keeps
      // NULLs so they were GC-safe, but without the backfill they
      // would never age and the tombstone set would stay monotonic,
      // the exact growth the horizon exists to bound (parquet-path
      // parity). Backfill runs BEFORE the apply (this batch's own rows
      // are all freshly stamped) and only on the FIRST batch of a run
      // (the caller gates it): it is a stamp-IS-NULL full scan, and on
      // the flat-latency path a per-batch O(state) statement is the
      // cost shape this sink exists to avoid. (The GC DELETE below
      // also scans without an index — production puts a partial index
      // on (op, stamp); Derby has no partial indexes, so the harness
      // measures the scan.)
      if (backfillStamps && casTombstoneRetention != Long.MaxValue)
        graft.sources.Jdbc.backfillNullStamps(url, table, casBatchCol, batchId, props)
      graft.sources.Jdbc.applyChangesVersioned(stamped, url, table, keyCol, "lsn", "op", props)
      if (casTombstoneRetention != Long.MaxValue)
        graft.sources.Jdbc.deleteExpiredTombstones(url, table, "op", casBatchCol,
          batchId - casTombstoneRetention, props)
    }
  }

  /** Multi-table CDC → JDBC materialization: [[materializeCdcTables]]'s
    * demux with [[materializeCdcJdbc]]'s per-relation apply — one
    * stream, one checkpoint, one QUERYABLE table per registered
    * relation (`tableNames` maps relation → table name; identity by
    * default). Same loud guard on unregistered tables, same
    * exactly-once-equivalence per relation: the shared checkpoint
    * replays the whole batch, and every relation's apply is
    * idempotent, so a crash between relation applies re-lands the
    * applied ones as no-ops and completes the rest. In CAS mode with a
    * tombstone retention set, `casQuietGcEvery` is the cadence (in
    * micro-batches) at which QUIET relations — skipped by the census
    * demux, and therefore skipping their per-apply tombstone GC — get
    * a standalone GC sweep, so a relation that takes deletes and then
    * goes silent still ages its tombstones out. */
  def materializeCdcJdbcTables(envelopes: DataFrame, checkpoint: String,
      url: String, relations: Seq[Envelope.Relation],
      tableNames: String => String = identity,
      props: Map[String, String] = Map.empty,
      orderedTransport: Boolean = true,
      casTombstoneRetention: Long = Long.MaxValue,
      maxConcurrentRelations: Int = 1,
      allowSinkOnlyColumns: Boolean = false,
      casQuietGcEvery: Long = 32L): StreamingQuery = {
    require(casQuietGcEvery > 0L,
      s"[graft] casQuietGcEvery must be positive (got $casQuietGcEvery)")
    requireDistinctTargets(relations, tableNames)
    materialize(envelopes, checkpoint,
      s"jdbc-multi:$url#${relations.map(r => tableNames(r.name)).sorted.mkString(",")}:${modeTag(orderedTransport)}",
      Demux(relations, maxConcurrentRelations),
      // the FIRST batch of a run applies every relation (eager table
      // creation + stamp backfill, both first-batch contracts); later
      // batches skip quiet relations outright — zero Spark jobs AND
      // zero JDBC round-trips for the catalog's untouched majority
      applyQuiet = firstBatch => firstBatch,
      onStart = () => if (!orderedTransport)
        relations.foreach(rel =>
          graft.sources.Jdbc.requireCanonicalVersions(url, tableNames(rel.name), "lsn", props)),
      // the quiet-relation skip also skips applyBatchJdbc's tombstone
      // GC, so a relation that takes deletes then goes quiet would
      // hold its tombstones past the retention horizon forever. Sweep
      // quiet relations' tombstones every casQuietGcEvery-th batch:
      // one DELETE round-trip per quiet relation, amortized to ~zero
      // per batch, and idempotent under checkpoint replay (the same
      // batchId recomputes the same horizon). Tables exist — the
      // first batch of every run applies ALL relations (ensureTable).
      afterBatch = (batchId, firstBatch, applied) =>
        if (!orderedTransport && casTombstoneRetention != Long.MaxValue &&
            !firstBatch && batchId % casQuietGcEvery == 0L)
          relations.filterNot(r => applied(r.name)).foreach { rel =>
            graft.sources.Jdbc.deleteExpiredTombstones(url, tableNames(rel.name),
              "op", casBatchCol, batchId - casTombstoneRetention, props)
          }) { (t, batchId, firstBatch) =>
      applyBatchJdbc(t.events, url, tableNames(t.name), batchId, t.keyCol, props,
        orderedTransport, casTombstoneRetention, allowSinkOnlyColumns,
        backfillStamps = firstBatch)
    }
  }

  /** STREAMING INDEX MAINTENANCE — the incremental complement of the
    * offline [[graft.ops.IndexStore]] build: per micro-batch, assign
    * the batch's new vectors to their IVF list under a FROZEN trained
    * model and fold them into the persistent membership table, so the
    * index a retrieval service probes stays current with ingest
    * without retraining. The p30 batch-vs-index shape made continuous.
    *
    * State layout and cost discipline are the CDC materializer's: the
    * membership table is the [[graft.ops.IndexStore.saveMembership]]
    * layout (parquet partitioned by `list_id`), each batch reads ONLY
    * the partitions its assignments hash into (≤ K, usually far
    * fewer — partition-pruned scan), merges by `vec_id`, and
    * dynamic-partition-overwrites only those directories — per-batch
    * cost O(touched lists), never O(index). Crash-before-commit
    * replays the batch: a redelivered vector lands in the SAME list
    * (frozen model, deterministic assignment), the vec_id merge drops
    * the duplicate, and the overwrite regenerates identical partition
    * content — exactly-once-equivalent, the [[materializeCdc]]
    * contract. StreamsExtraSpec pins streamed-membership ==
    * batch-assign after every micro-batch, plus restart and
    * lost-commit no-ops.
    *
    * Contract: the vector stream is APPEND-ONLY — redelivery of a
    * vec_id with the same embedding is idempotent; a CHANGED embedding
    * for an existing vec_id is NOT supported (its stale row in the old
    * list's untouched partition would survive — route mutable rows
    * through the CDC materializers instead). The model is loaded once
    * per run from `modelPath` and is part of the sink identity: an
    * index must never mix assignments from two quantizers, so
    * retargeting either path on a live checkpoint refuses. */
  def maintainIvfMembership(vectors: DataFrame, checkpoint: String,
      modelPath: String, indexPath: String): StreamingQuery = {
    val cached = new java.util.concurrent.atomic.AtomicReference[graft.ops.KMeans.Model]()
    runForeachBatch(vectors, checkpoint, (batch, _) => {
      val spark = batch.sparkSession
      requireSinkBinding(spark.sparkContext.hadoopConfiguration,
        checkpoint, s"ivf-index:$indexPath#$modelPath")
      val b = batch.persist()
      try {
        if (!b.isEmpty) {
          // restore the membership marker if the previous attempt at
          // this batch died mid-maintenance (r21 — see
          // IndexStore.recoverMaintenance; this replay rewrites the
          // same partitions, so the restored marker is safe)
          graft.ops.IndexStore.recoverMaintenance(spark, indexPath)
          if (cached.get() == null)
            cached.compareAndSet(null, graft.ops.IndexStore.loadKMeans(spark, modelPath))
          val model = cached.get()
          val assigned = graft.ops.KMeans.assign(
            b.select(col("vec_id"), col("embedding")), "embedding", model,
            forceKernel = true)
            .select(col("vec_id"), col("cluster").as("list_id"))
            .persist() // read twice: touched-list census + the merge
          try {
            // ≤ K driver rows — the touched-bucket discipline
            val touched = assigned.select(col("list_id")).distinct()
              .collect().map(_.getInt(0)).toSeq
            val (existing, _) = graft.ops.IndexStore.loadMembership(spark, indexPath)
            val mine = existing.filter(col("list_id").isin(touched: _*))
            // redelivered vectors assign to the same list under the
            // frozen model — the vec_id merge folds them away.
            // localCheckpoint(eager): the merge READS the same
            // partition files the write below overwrites — snapshot
            // the merged rows (O(touched lists), the operator's own
            // cost class) so the write job never races its read side
            // (r21, ADVICE — the rename-aside discipline's cheap twin)
            val merged = mine.unionByName(assigned).dropDuplicates("vec_id")
              .repartition(col("list_id"))
              .localCheckpoint(true)
            try {
              // marker swap (r21, ADVICE): invalidate the commit
              // marker around the in-place partition overwrite so a
              // crash mid-write leaves a load-refusing index, never a
              // stale marker over torn data; replay repairs it
              graft.ops.IndexStore.maintainData(spark, indexPath, "ivf_membership") {
                merged.write.mode("overwrite")
                  .option("partitionOverwriteMode", "dynamic")
                  .partitionBy("list_id")
                  .parquet(s"$indexPath/data")
              }
            } finally merged.unpersist()
          } finally assigned.unpersist()
        }
      } finally b.unpersist()
    })
  }

  /** STREAMING DEDUP-INDEX MAINTENANCE — the full production ingest
    * loop, composed from hash-gated pieces (p30's batch-vs-index
    * decision + [[graft.ops.IndexStore]] persistence) and made
    * continuous: per micro-batch of new documents, (1) DECIDE
    * admit/reject against the index as of all STRICTLY EARLIER batches
    * (the shared `Pipeline.dedupDecide` — band candidates, exact
    * Jaccard ≥ 0.8 verify, best-match lineage), (2) APPEND the admitted
    * docs' bands and shingle sets to the persistent index, (3) log the
    * batch's decisions. Later batches then reject near-duplicates of
    * earlier ADMITTED ingest — the intra-stream case the one-shot p30
    * gate never sees.
    *
    * Idempotence is the batch_id partition discipline: every write
    * lands under `batch_id=<N>` via dynamic partition overwrite, and
    * the decision reads filter the index to `batch_id < N` — so a
    * replayed batch sees the identical index, recomputes the identical
    * decisions, and overwrites its own partitions with identical
    * content. Per-batch cost: the batch's banding is one pass over the
    * batch; the candidate join is the p30 cost class (O(batch bands ×
    * matching corpus buckets), never corpus×corpus); appends touch only
    * the batch's own partition directories. The seed index (the
    * standing corpus) saves once offline under `batch_id = -1`
    * ([[graft.ops.IndexStore.save]] with `batch_id` partitioning).
    *
    * Contract: doc_ids are globally unique across the seed and the
    * stream (the CDC key discipline); intra-BATCH mutual near-dups are
    * not split — decisions are batch-vs-index, compose p6's self-dedup
    * upstream if a single batch can carry both copies. */
  def maintainDedupIndex(docs: DataFrame, checkpoint: String,
      indexRoot: String): StreamingQuery =
    runForeachBatch(docs, checkpoint, (batch, batchId) => {
      val spark = batch.sparkSession
      requireSinkBinding(spark.sparkContext.hadoopConfiguration,
        checkpoint, s"dedup-index:$indexRoot")
      val b = batch.persist()
      try {
        if (!b.isEmpty) {
          // restore markers if the previous attempt at this batch died
          // mid-maintenance (r21 — IndexStore.recoverMaintenance; the
          // replay overwrites its own batch_id partitions identically)
          graft.ops.IndexStore.recoverMaintenance(spark, s"$indexRoot/bands")
          graft.ops.IndexStore.recoverMaintenance(spark, s"$indexRoot/shingles")
          val (bandsAll, _) = graft.ops.IndexStore.load(spark, s"$indexRoot/bands", "minhash_bands")
          val (shAll, _) = graft.ops.IndexStore.load(spark, s"$indexRoot/shingles", "shingle_sets")
          // the index THIS batch decides against: strictly earlier
          // appends only — the replay screen
          def upTo(df: DataFrame) =
            df.filter(col("batch_id").cast("long") < batchId).drop("batch_id")
          // per-batch cache registry: the helpers' persist boundaries
          // (md5 base hashes, verified matches) must release once the
          // batch's writes land, or a long-running stream pins one
          // cache set per micro-batch forever
          val caches = new graft.queries.Pipeline.DedupCaches
          val withSh = graft.queries.Pipeline.docShingleFrame(
            b.select(col("doc_id"), col("text")))
          try {
            val decisions = graft.queries.Pipeline.dedupDecide(
              withSh, upTo(bandsAll), upTo(shAll), Some(caches)).persist()
            try {
              val admitted = decisions.filter(col("decision") === "admit")
                .select(col("inc_id").as("doc_id"))
              val (newBands, newShingles) = graft.queries.Pipeline.dedupIndexTables(
                withSh.join(broadcast(admitted), Seq("doc_id"), "left_semi"), Some(caches))
              def appendPartition(df: DataFrame, path: String): Unit =
                df.withColumn("batch_id", lit(batchId))
                  .repartition(1)
                  .write.mode("overwrite")
                  .option("partitionOverwriteMode", "dynamic")
                  .partitionBy("batch_id")
                  .parquet(path)
              // marker swap on the two INDEX artifacts (r21, ADVICE):
              // the batch's own partition rewrite must not leave a
              // valid marker over a torn directory; the decisions log
              // is not a load()-gated artifact and appends bare
              graft.ops.IndexStore.maintainData(spark, s"$indexRoot/bands", "minhash_bands") {
                appendPartition(newBands, s"$indexRoot/bands/data")
              }
              graft.ops.IndexStore.maintainData(spark, s"$indexRoot/shingles", "shingle_sets") {
                appendPartition(newShingles, s"$indexRoot/shingles/data")
              }
              appendPartition(decisions, s"$indexRoot/decisions")
            } finally decisions.unpersist()
          } finally { withSh.unpersist(); caches.release() }
        }
      } finally b.unpersist()
    })

  /** Live rows of a CAS-mode [[materializeCdcJdbc]] table: filters the
    * delete tombstones and drops the version/op bookkeeping — the JDBC
    * twin of [[cdcLiveState]]. (An ordered-mode table IS its live rows;
    * read it with [[graft.sources.Jdbc.snapshot]] directly.) */
  def cdcLiveStateJdbc(spark: SparkSession, url: String, table: String,
      props: Map[String, String] = Map.empty): DataFrame = {
    val df = graft.sources.Jdbc.snapshot(spark, url, table, props)
    val opCol = df.columns.find(_.equalsIgnoreCase("op")).getOrElse(
      throw new IllegalArgumentException(
        s"[graft] $table has no 'op' column — not a CAS-mode CDC table"))
    val bookkeeping = df.columns.filter(c =>
      c.equalsIgnoreCase("lsn") || c.equalsIgnoreCase(casBatchCol)).toSeq
    df.filter(col(opCol) =!= "D").drop(opCol +: bookkeeping: _*)
  }

  /** Live rows of a [[materializeCdc]] state table. Ordered-transport
    * state stores live rows directly; CAS state keeps each key's
    * winning LSN plus delete TOMBSTONES — both bookkeeping, filtered
    * and dropped here so callers see one schema either way. Inferring
    * the mode from the presence of 'op' is sound because
    * [[materializeCdc]] — the only writer of these tables — reserves
    * that name at every batch: an ordered-mode state can never carry a
    * payload column named 'op'. */
  def cdcLiveState(spark: SparkSession, statePath: String): DataFrame = {
    val df0 = readParquet(spark, statePath)
    val df = df0.drop(bucketCol) // layout detail of the partitioned state, not payload
    if (df.columns.contains("op"))
      df.filter(col("op") =!= "D").drop("op", "lsn", casBatchCol)
    else df
  }

  /** Arrival-batch stamp on CAS-mode state rows — bookkeeping for
    * tombstone GC, reserved like 'op'. */
  private[graft] val casBatchCol = "__graft_arrival_batch"

  // ---- SCD2 history compaction (retention dial) ------------------------

  private def horizonPath(statePath: String) =
    new org.apache.hadoop.fs.Path(s"${statePath}__compact_horizon")
  private def horizonTmpPath(statePath: String) =
    new org.apache.hadoop.fs.Path(s"${statePath}__compact_horizon.tmp")

  /** The compaction horizon recorded for an SCD2 history, if any.
    * Marker writes go temp-then-swap (the [[requireSinkBinding]]
    * discipline), so every crash window resolves safely here:
    *  - marker present → its value (a corrupt marker cannot be
    *    produced by the writer — it lands via rename — but refuse
    *    LOUDLY if one appears rather than reading past it);
    *  - marker missing but a COMPLETE tmp present → the tmp's value
    *    (the crash sat between the old marker's delete and the
    *    rename; the tmp was fully written first, so using it
    *    over-refuses, never under-refuses);
    *  - neither parsable → no horizon (a crash during the FIRST
    *    marker write — nothing was compacted yet, the rewrite only
    *    starts after the marker lands). */
  def scd2CompactHorizon(spark: SparkSession, statePath: String): Option[Long] = {
    val p = horizonPath(statePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def readLong(f: org.apache.hadoop.fs.Path): Option[Long] = {
      val s = readUtf8(fs, f).trim
      scala.util.Try(s.toLong).toOption
    }
    if (fs.exists(p))
      Some(readLong(p).getOrElse(throw new IllegalStateException(
        s"[graft] corrupt compaction marker at $p — refuse rather than read past a " +
          "compacted horizon; delete it and re-run compactScd2 at or above the last horizon")))
    else {
      val tmp = horizonTmpPath(statePath)
      if (fs.exists(tmp)) readLong(tmp) else None
    }
  }

  /** SCD2 HISTORY COMPACTION — the retention dial closing the "closed
    * intervals accumulate forever" gap (the [[materializeCdc]]
    * `casTombstoneRetention` analogue for type-2 state): drop every
    * interval whose `valid_to ≤ horizon` — fully below the horizon, so
    * no `scd2AsOf(x ≥ horizon)` read can ever match it — and record
    * the horizon in a sidecar marker that [[scd2AsOfState]] enforces:
    * a point-in-time read BELOW the compacted horizon refuses loudly
    * instead of silently returning a partial table. Steady-state
    * history size becomes O(live keys + churn inside the horizon).
    *
    * Zero-width orphan tombstones at L ≤ horizon drop too: their
    * missing image would carry `valid_from < L ≤ horizon`, and the
    * horizon contract (below) says such an event can no longer arrive.
    *
    * Ordering/crash discipline: the marker writes FIRST — a crash
    * between marker and rewrite over-refuses (reads below the marker
    * fail although rows still exist), never under-refuses; the rewrite
    * itself is the materializers' [[ParquetState]] commit (a whole
    * rename-aside swap that keeps the bucket layout), so the next
    * batch's open promotes whichever side a crash left. The horizon
    * only advances — lowering it would promise history that was
    * already dropped.
    *
    * CONTRACT (the caller's to keep, as with tombstone retention):
    * compact only below any LSN the transport can still deliver or
    * replay — a pre-horizon event arriving after compaction would see
    * no per-key high-water rows and re-fold as if new. Run it between
    * batches (it takes the state file lock implicitly by the swap), at
    * whatever cadence bounds the history size. */
  def compactScd2(spark: SparkSession, statePath: String, horizon: Long): Unit = {
    val st = new ParquetState(spark, statePath)
    require(st.onDisk.isDefined, s"[graft] no SCD2 history at $statePath — nothing to compact")
    scd2CompactHorizon(spark, statePath).foreach(h => require(horizon >= h,
      s"[graft] compaction horizon can only advance: stored $h, asked $horizon — " +
        "history below the stored horizon is already gone"))
    // temp-then-swap: the tmp is COMPLETE before the old marker goes
    // away, so no crash window can lose an already-recorded horizon
    // (see scd2CompactHorizon's resolution table)
    val fs = st.fs
    val markerTmp = horizonTmpPath(statePath)
    val out = fs.create(markerTmp, true)
    try out.write(horizon.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val marker = horizonPath(statePath)
    if (fs.exists(marker)) checkedFs(fs.delete(marker, false), s"delete $marker")
    checkedFs(fs.rename(markerTmp, marker), s"rename $markerTmp -> $marker")
    st.write(st.onDisk.get.filter(col("valid_to").isNull || col("valid_to") > horizon),
      System.currentTimeMillis(), incremental = false)
  }

  /** Point-in-time read over a (possibly compacted) SCD2 state table —
    * [[Envelope.scd2AsOf]] plus the horizon refusal: reading AS OF an
    * LSN below the compacted horizon returns rows whose intervals were
    * dropped, so it must fail loudly, not partially. Drops the bucket
    * bookkeeping column when the state is partitioned. */
  def scd2AsOfState(spark: SparkSession, statePath: String, lsn: Long): DataFrame = {
    scd2CompactHorizon(spark, statePath).foreach(h => require(lsn >= h,
      s"[graft] as-of $lsn reads below the compacted horizon $h of $statePath — " +
        "that history was dropped by compaction; refuse instead of returning a partial table"))
    val df = readParquet(spark, statePath)
    Envelope.scd2AsOf(
      if (df.columns.contains(bucketCol)) df.drop(bucketCol) else df, lsn)
  }

  /** Fail loudly on Hadoop's boolean-false error reporting. Hadoop
    * FileSystems report many failures by RETURNING FALSE, not throwing:
    * an unchecked false in the state swap would let foreachBatch return
    * normally, the checkpoint COMMIT the batch, and the next batch's
    * recovery sweep the completed swap dir — that batch's changes gone
    * with no replay. Throwing aborts the batch BEFORE its checkpoint
    * commit, and the replay lands it. */
  private def checkedFs(ok: Boolean, what: String): Unit =
    if (!ok) throw new java.io.IOException(s"[graft] CDC state swap: $what returned false")

  /** Crash recovery for the [[ParquetState]] swap, run each time the
    * state is opened (every micro-batch). If `state` is missing (a crash hit
    * between the swap's two renames), promote the newest COMPLETED
    * `__swap_<batchId>` dir — one whose parquet commit wrote
    * `_SUCCESS` — or, failing that, the renamed-aside `__prev` dir.
    * Either choice is consistent: the interrupted batch never reached
    * its checkpoint commit, so it replays, and the MERGE is idempotent
    * against both the pre-batch state (`__prev`) and the post-batch
    * result (the swap). Whatever remains is a stale artifact of a
    * completed or abandoned swap and is swept so orphan dirs don't
    * accumulate next to the state table.
    */
  private[graft] def recoverCdcState(fs: org.apache.hadoop.fs.FileSystem,
      statePath: String): Unit = {
    val state = new org.apache.hadoop.fs.Path(statePath)
    val prev = new org.apache.hadoop.fs.Path(s"${statePath}__prev")
    val swapPrefix = state.getName + "__swap_"
    val parent = state.getParent
    // Only dirs the swap itself wrote — `<state>__swap_<batchId>` where
    // batchId is the LONG the swap stamped — are recovery candidates OR
    // sweep targets. A user-made sibling that merely shares the prefix
    // (`students__swap_backup`, or a digit run too long for a Long)
    // must be neither: parsing it would throw at every batch start (a
    // permanent crash loop), sweeping it would eat user data.
    def swapId(name: String): Option[Long] =
      if (name.startsWith(swapPrefix) && name.stripPrefix(swapPrefix).matches("\\d+"))
        scala.util.Try(name.stripPrefix(swapPrefix).toLong).toOption
      else None
    val swaps: Seq[org.apache.hadoop.fs.Path] =
      if (parent != null && fs.exists(parent))
        fs.listStatus(parent).toSeq
          .filter(s => s.isDirectory && swapId(s.getPath.getName).isDefined)
          .map(_.getPath)
      else Seq.empty
    if (!fs.exists(state)) {
      val completed = swaps.filter(p =>
        fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
      if (completed.nonEmpty) {
        val newest = completed.maxBy(p => swapId(p.getName).get)
        // an unchecked false here would leave `state` missing and the
        // batch merging into an empty base — same loss the swap guards
        checkedFs(fs.rename(newest, state), s"recover $newest -> $state")
      } else if (fs.exists(prev)) {
        checkedFs(fs.rename(prev, state), s"recover $prev -> $state")
      }
    }
    swaps.filter(fs.exists(_)).foreach(fs.delete(_, true))
    if (fs.exists(prev)) fs.delete(prev, true)
  }
}
