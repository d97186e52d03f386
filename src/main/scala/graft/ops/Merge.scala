package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batch MERGE / CDC apply: fold a reduced change set into a base
  * snapshot — the materialization step of the reference's CDC pipeline
  * (`/root/reference/src/customMapper.ts:12-24` emits the per-key ops;
  * applying them to a queryable table is what a consumer does next).
  * q19 replays an envelope stream to a final state; this operator is
  * the same semantics generalized to any (base, changes) pair, i.e.
  * SQL `MERGE INTO` re-expressed as one full-outer join:
  *
  *  - change op `D`: the key disappears (matched or not — deletes are
  *    idempotent, matching the reference's at-least-once delivery);
  *  - change op `U`/`I` (any non-`D`): the change's value columns win
  *    (insert-or-update — CDC upsert);
  *  - key with no change: base row passes through unchanged.
  *
  * Scale shape — two paths, because a FULL OUTER join cannot broadcast
  * (neither side's unmatched rows are recoverable from a streamed
  * probe), so the general `upsert` must co-partition BOTH sides:
  *
  *  - `upsert`: one shuffle of each side on the merge key — or zero
  *    when both are bucketed on it (`Layout.bucketWrite`; LayoutSpec
  *    proves the bucketed apply exchange-free). The right form when
  *    base and changes are comparable in size or already co-located.
  *  - `upsertSmallChanges`: the CDC shape (changes ≪ base). The change
  *    set broadcasts and the base is never shuffled — at a 100 TB base
  *    a scan beats one full shuffle by the width of the cluster
  *    network. FULL row images (`partialImages = false`, every base
  *    value column present) scan the base ONCE: a touched key's base
  *    values can never survive, so MERGE is the pass-through anti join
  *    plus the change images. Partial images must merge per column,
  *    so the base is SCANNED twice (pass-through anti join + matched
  *    inner join). No driver-side state, no collect.
  */
object Merge {

  /** Witness column injected by [[upsert]]; reserved — inputs carrying
    * it would silently corrupt the matched/unmatched split. */
  private[graft] val presentCol = "__graft_change_present"

  /** Fail fast with a named-column message instead of letting a typo'd
    * key surface as an opaque analysis error three operators later (or,
    * for a pre-existing sentinel column, as a silently wrong split).
    *
    * Matches the ANALYZER's resolution rules: under the default
    * `spark.sql.caseSensitive=false` a call like `upsert(df, ch, "ID",
    * "op")` against a column named `id` resolves fine in Spark, so a
    * case-exact precondition would regress it. Returns the STORED
    * names for key (base's casing) and opCol (changes' casing) so
    * every downstream reference binds to one unambiguous spelling. */
  private def resolveCol(df: DataFrame, name: String, what: String, side: String): String = {
    val hit =
      if (caseSensitive(df)) df.columns.find(_ == name)
      else df.columns.find(_.equalsIgnoreCase(name))
    require(hit.isDefined,
      s"[graft] MERGE $what '$name' is not a column of $side ${df.columns.mkString("[", ", ", "]")}")
    hit.get
  }

  private def validate(base: DataFrame, changes: DataFrame,
      key: String, opCol: String): (String, String, String) = {
    val k = resolveCol(base, key, "key", "base")
    val kc = resolveCol(changes, key, "key", "changes")
    val op = resolveCol(changes, opCol, "op column", "changes")
    def clashes(df: DataFrame) =
      if (caseSensitive(base)) df.columns.contains(presentCol)
      else df.columns.exists(_.equalsIgnoreCase(presentCol))
    require(!clashes(base) && !clashes(changes),
      s"[graft] column name '$presentCol' is reserved by MERGE — rename it on the input")
    (k, kc, op)
  }

  /** NULL merge keys on the change side fail the batch LOUDLY: every
    * join here is null-UNSAFE equality, so a null-key change row never
    * matches base NOR the insert anti-probe — it appends a fresh row
    * on EVERY delivery, silently breaking both the one-row-per-key
    * invariant and at-least-once idempotence.
    *
    * The guard rides inside a CARRIER column (`opCol` here, the
    * version column in [[upsertVersioned]]) rather than the key
    * itself: rewriting the join key into a CASE expression would hide
    * its bucket-hash provenance from the planner and re-introduce the
    * exchange the bucketed layout exists to avoid (LayoutSpec pins the
    * exchange-free apply). The carrier is sound because every subtree
    * that can KEEP a change row evaluates it: [[upsert]]'s delete
    * filter reads `c.op` for every present row, and
    * [[upsertSmallChanges]]'s insert branch — the only place a
    * null-key row survives to (it matches neither anti-probe) — and
    * its full-image branch both filter on `op`. A dropped standalone
    * assert column would be pruned away, check and all. The base side
    * is not re-scanned: base rows originate as checked change rows (or
    * a caller-stamped snapshot), so the invariant holds inductively. */
  private def nullKeyError(kc: String, opName: String): String =
    s"[graft] $opName: null merge key '$kc' in changes — a null key matches no " +
      s"join, so the row would silently duplicate on every redelivery"

  private def guardNullKey(changes: DataFrame, kc: String, carrier: String,
      opName: String): DataFrame = {
    val cType = changes.schema(carrier).dataType
    changes.withColumn(carrier,
      when(col(kc).isNotNull, col(carrier))
        .otherwise(raise_error(lit(nullKeyError(kc, opName))).cast(cType)))
  }

  private def caseSensitive(df: DataFrame): Boolean =
    df.sparkSession.sessionState.conf.caseSensitiveAnalysis

  /** Apply `changes` to `base` with MERGE semantics.
    *
    * @param base    snapshot; one row per `key`
    * @param changes one row per `key` (pre-reduce a CDC stream with
    *                last-image-per-key first, as q19 does), carrying
    *                `opCol` plus any subset of base's value columns. A
    *                NULL value column in a change means "not provided —
    *                keep the base value" (CDC partial images).
    * @param key     equi-merge key column present on both sides
    * @param opCol   change-operation column on `changes`: 'D' deletes,
    *                anything else upserts
    * @param partialImages when true (default), a NULL value column in a
    *                change means "not provided" and the base value
    *                survives — wire formats that send only touched
    *                columns. When false, changes carry FULL row images
    *                and their values win verbatim, NULLs included —
    *                required for last-image semantics (a full-image
    *                update that sets a nullable column to NULL must
    *                clear it, not resurrect the stale base value).
    */
  def upsert(base: DataFrame, changes: DataFrame, key: String, opCol: String,
      partialImages: Boolean = true): DataFrame = {
    val (k, kc, op) = validate(base, changes, key, opCol)
    val checked = guardNullKey(changes, kc, op, "MERGE upsert")
    val valueCols = base.columns.filter(_ != k).toSeq
    val inChanges = changeColMatcher(base, changes)
    // Presence of a change row must be its own witness, not inferred
    // from a non-null op: a NULL opCol is "anything else" (upsert) per
    // the contract, and inferring presence from it would silently treat
    // the row as absent in full-image mode.
    val merged = base.alias("b")
      .join(checked.withColumn(presentCol, lit(true)).alias("c"), Seq(k), "full_outer")
    val matched = col(s"c.$presentCol").isNotNull
    merged
      .filter(!(matched && (col(s"c.$op") <=> lit("D"))))
      .select(col(k) +: valueCols.map { v =>
        if (!inChanges(v)) col(s"b.$v").as(v)
        else if (partialImages) coalesce(col(s"c.$v"), col(s"b.$v")).as(v)
        else when(matched, col(s"c.$v")).otherwise(col(s"b.$v")).as(v)
      }: _*)
  }

  /** Membership test "does `changes` carry this base value column",
    * under the same resolution rules the analyzer will apply to the
    * resulting `col("c.<name>")` reference. */
  private def changeColMatcher(base: DataFrame, changes: DataFrame): String => Boolean = {
    // Locale.ROOT, matching resolve()'s equalsIgnoreCase and Spark's
    // caseInsensitiveResolution: the JVM-default-locale toLowerCase
    // folds 'ID' to "ıd" under a Turkish locale, silently dropping the
    // change column from the membership test.
    def fold(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    if (caseSensitive(base)) changes.columns.toSet
    else { val lower = changes.columns.map(fold).toSet
           v => lower.contains(fold(v)) }
  }

  /** Same MERGE semantics as [[upsert]], planned for a change set that
    * is ≪ the base (the CDC apply shape): every join broadcasts the
    * change side, so the base snapshot is scanned but never
    * hash-partitioned. Output row set is identical to `upsert` on the
    * same inputs (CurationSpec asserts parity on the edge cases, for
    * both shapes below).
    *
    * FULL images (`partialImages = false`) carrying every base value
    * column take the identity
    * `base ⋉̸ broadcast(change keys) ∪ change images with op ≠ 'D'`:
    * one base scan, one broadcast, no join against the images. Any
    * other input merges per column through a matched inner join, so the
    * base is scanned twice (three times with `cacheMatched = false`).
    *
    * @param cacheMatched join shape only: persist the
    *               (≤ |changes|-row) matched set so the base contributes
    *               two scans instead of three. Callers whose session
    *               teardown runs `clearCache()` between queries
    *               (Bench/Verify) keep the default; long-lived loops that
    *               merge repeatedly on one session (foreachBatch
    *               materialization) pass false — an un-released persist
    *               per batch is a slow leak.
    */
  def upsertSmallChanges(base: DataFrame, changes: DataFrame, key: String, opCol: String,
      partialImages: Boolean = true, cacheMatched: Boolean = true): DataFrame =
    smallChanges(base, changes, key, opCol, partialImages, cacheMatched, touchedKeys = None)

  /** [[upsertSmallChanges]] with full images, for a caller that already
    * holds the change set's key set in a cheaper form than the change
    * set itself — the CDC materializer's pre-reduce events, whose keys
    * need no shuffle. `touchedKeys` must carry a column named `key` and
    * exactly the keys of `changes` (duplicates are fine: it only feeds
    * the pass-through anti join). A change set that lacks a base value
    * column takes the join shape, as in [[upsertSmallChanges]].
    *
    * When `touchedKeys` is a driver-side relation (its optimized plan is
    * a `LocalRelation`) of a key type [[graft.expressions.InKeySet]]
    * compares exactly, the pass-through is a filter of the base by that
    * key set instead of a broadcast anti join: no broadcast job, no
    * shuffle, and one generated class for every key set. */
  private[graft] def upsertFullImages(base: DataFrame, changes: DataFrame, key: String,
      opCol: String, touchedKeys: DataFrame): DataFrame =
    smallChanges(base, changes, key, opCol, partialImages = false, cacheMatched = false,
      touchedKeys = Some(touchedKeys))

  private def smallChanges(base: DataFrame, changes: DataFrame, key: String, opCol: String,
      partialImages: Boolean, cacheMatched: Boolean,
      touchedKeys: Option[DataFrame]): DataFrame = {
    val (k, kc, op) = validate(base, changes, key, opCol)
    val checked = guardNullKey(changes, kc, op, "MERGE upsertSmallChanges")
    val valueCols = base.columns.filter(_ != k).toSeq
    val inChanges = changeColMatcher(base, changes)
    val isDelete = col(op) <=> lit("D")
    val keys = touchedKeys.getOrElse(checked).select(col(k))
    // base rows whose key has no change: pass through (scan + broadcast
    // anti, or scan + filter by a driver-side key set)
    val passThrough = touchedKeys.flatMap(driverKeySet(_, k, base.schema(k).dataType)) match {
      case Some(set) => notInKeySet(base, k, set)
      case None => base.join(broadcast(keys), Seq(k), "left_anti")
    }
    val untouched = passThrough.select(col(k) +: valueCols.map(col): _*)
    if (!partialImages && valueCols.forall(inChanges)) {
      // full images: a touched key's row is its change image verbatim
      // (or gone, for 'D'), so no base value is needed. The filter reads
      // `op` for every change row — the null-key guard's carrier.
      val images = checked
        .filter(!isDelete)
        .select(col(k) +: valueCols.map(v => col(v).as(v)): _*)
      untouched.unionByName(images)
    } else {
      // matched (key in both): merge per column; D drops the row. The
      // result is ≤ |changes| rows and feeds BOTH the applied branch and
      // the insert anti-probe — persist so the base contributes exactly
      // two scans (released by the session-level clearCache teardown the
      // engine's drivers run between queries, as with q41's own persist).
      val matchedJoin = base.alias("b")
        .join(broadcast(checked.alias("c")), Seq(k), "inner")
      val matched = if (cacheMatched) matchedJoin.persist() else matchedJoin
      val applied = matched
        .filter(!(col(s"c.$op") <=> lit("D")))
        .select(col(k) +: valueCols.map { v =>
          if (!inChanges(v)) col(s"b.$v").as(v)
          else if (partialImages) coalesce(col(s"c.$v"), col(s"b.$v")).as(v)
          else col(s"c.$v").as(v)
        }: _*)
      // inserts: change keys absent from base. The matched-key set is
      // ≤ |changes| rows, so the anti probe broadcasts it — the base
      // contributes only through the (unshuffled) inner join above.
      val inserts = checked
        .join(broadcast(matched.select(col(k))), Seq(k), "left_anti")
        .filter(!isDelete)
        .select(col(k) +: valueCols.map { v =>
          if (inChanges(v)) col(v).as(v)
          else lit(null).cast(base.schema(v).dataType).as(v)
        }: _*)
      untouched.unionByName(applied).unionByName(inserts)
    }
  }

  /** The non-null keys in column `k` of a driver-side `keys` frame, as
    * internal values of `dt`, or None when `keys` is not a
    * `LocalRelation` once optimized or `dt` is not a type
    * [[graft.expressions.InKeySet]] compares exactly. Reading the
    * optimized plan runs no job. */
  private def driverKeySet(keys: DataFrame, k: String,
      dt: org.apache.spark.sql.types.DataType): Option[java.util.Set[Any]] =
    if (!graft.expressions.InKeySet.exact(dt)) None
    else keys.select(col(k).cast(dt)).queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        val set = new java.util.HashSet[Any]()
        l.data.foreach { r =>
          if (!r.isNullAt(0)) set.add(r.get(0, dt) match {
            case s: org.apache.spark.unsafe.types.UTF8String => s.clone()
            case v => v
          })
        }
        Some(set)
      case _ => None
    }

  /** `base` rows whose key `k` is not in `set`. The predicate is an
    * [[graft.expressions.InKeySet]] reached through a temp function
    * ([[graft.expressions.TempFunctions]]); the filter is analyzed on
    * construction, so the name is dropped right after. */
  private def notInKeySet(base: DataFrame, k: String, set: java.util.Set[Any]): DataFrame =
    graft.expressions.TempFunctions.using(base.sparkSession, "graft_in_key_set",
      exprs => graft.expressions.InKeySet(exprs.head, set)) { fn =>
      base.filter(!call_function(fn, col(k)))
    }

  /** Compare-and-swap MERGE for OUT-OF-ORDER transports: the row with
    * the higher `versionCol` wins whole-row, so a replayed or late
    * batch carrying an OLDER image can never overwrite a newer one —
    * the guarantee [[upsert]]/[[upsertSmallChanges]] get from in-order
    * delivery, recovered here from a version column (CDC LSN, Kafka
    * offset, a logical clock) when the transport reorders.
    *
    * Both sides must carry the SAME columns (key, version, payload):
    * the change is a full row image stamped with its version. Rows are
    * never removed — callers model deletes as TOMBSTONE rows (op='D'
    * payload) so a late older update cannot resurrect a deleted key;
    * filter tombstones out at read time. Equal versions keep the base
    * (idempotent under duplicated delivery).
    *
    * A multi-version batch is fine: changes are pre-reduced to the
    * highest-version row per key before the CAS, so a batch carrying a
    * key's whole update chain applies as its final image (two DISTINCT
    * rows sharing a version violate the version contract — the survivor
    * among them is arbitrary; duplicated delivery of the SAME row is
    * safe either way). Versions must be NON-NULL — LSN/offset/clock
    * semantics have no null — and a null on the change side fails the
    * batch loudly (a null would otherwise lose every CAS yet still
    * insert for unseen keys, an asymmetry no transport intends). The
    * base side is not re-scanned for nulls: base rows originate as
    * checked change rows (or a caller-stamped snapshot), so the
    * invariant holds inductively.
    *
    * Scale shape is [[upsertSmallChanges]]'s join shape:
    * every join broadcasts the change side, the base is scanned twice
    * and never shuffled (the per-key pre-reduce shuffles only the small
    * change side). A CAS needs both versions, so the full-image
    * single-scan identity does not apply here.
    */
  def upsertVersioned(base: DataFrame, changes: DataFrame, key: String,
      versionCol: String, cacheMatched: Boolean = true): DataFrame = {
    val k = resolveCol(base, key, "key", "base")
    val kc = resolveCol(changes, key, "key", "changes")
    val verB = resolveCol(base, versionCol, "version column", "base")
    val verC0 = resolveCol(changes, versionCol, "version column", "changes")
    def fold(s: String) =
      if (caseSensitive(base)) s else s.toLowerCase(java.util.Locale.ROOT)
    require(base.columns.map(fold).sorted.toSeq == changes.columns.map(fold).sorted.toSeq,
      s"[graft] versioned MERGE needs identical columns on both sides: " +
        s"base ${base.columns.mkString("[", ", ", "]")} vs changes ${changes.columns.mkString("[", ", ", "]")}")
    // Null checks ride inside the VERSION column (the [[guardNullKey]]
    // carrier pattern — rewriting the key would break bucketed
    // co-location; a dropped assert column would be pruned away with
    // its check): the version is never pruned here because the
    // pre-reduce's max_by orders by it, which evaluates the guard for
    // every change row BEFORE any join.
    val verType = changes.schema(verC0).dataType
    val checked0 = changes.withColumn(verC0,
      when(col(verC0).isNotNull && col(kc).isNotNull, col(verC0))
        .otherwise(raise_error(
          when(col(kc).isNull, lit(nullKeyError(kc, "versioned MERGE")))
            .otherwise(lit(
              s"[graft] versioned MERGE: null $verC0 in changes — versions (LSN/offset) must be non-null")))
          .cast(verType)))
    // Pre-reduce to the winning (highest-version) row per key, so a
    // batch with a key's whole update chain behaves as its last image
    // instead of emitting one output row per change row. max_by over a
    // struct, not a row_number window: the aggregate combines partially
    // map-side and skips the window's per-partition sort — measurably
    // cheaper on the change side, and the change side is the only side
    // this ever touches.
    val sCol = "__graft_cas_row"
    require(!base.columns.exists(c => fold(c) == fold(sCol)),
      s"[graft] column name '$sCol' is reserved by versioned MERGE — rename it on the input")
    val nonKey = checked0.columns.filter(c => fold(c) != fold(k)).toSeq
    // The reduced set feeds three subtrees (pass-through anti probe,
    // matched join, insert anti); deliberately NOT persisted — Catalyst
    // prunes the anti probes' aggs down to the key column, so the
    // recompute is two cheap key-only exchanges, measurably cheaper
    // than materializing the full reduced rows to the block manager
    // (isolated q46 runs: ~1.19 s recompute vs ~1.45 s persisted).
    val reduced = checked0
      .groupBy(col(k))
      .agg(max_by(struct(nonKey.map(col): _*), col(verC0)).as(sCol))
      .select(col(k) +: nonKey.map(c => col(s"$sCol.$c").as(c)): _*)
    val verC = verC0
    val cols = base.columns.toSeq
    val untouched = base
      .join(broadcast(reduced.select(col(k))), Seq(k), "left_anti")
      .select(cols.map(col): _*)
    val matchedJoin = base.alias("b")
      .join(broadcast(reduced.alias("c")), Seq(k), "inner")
    val matched = if (cacheMatched) matchedJoin.persist() else matchedJoin
    val cas = col(s"c.$verC") > col(s"b.$verB")
    val applied = matched.select(cols.map { v =>
      if (fold(v) == fold(k)) col(k)
      else when(cas, col(s"c.$v")).otherwise(col(s"b.$v")).as(v)
    }: _*)
    val inserts = reduced
      .join(broadcast(matched.select(col(k))), Seq(k), "left_anti")
      .select(cols.map(col): _*)
    untouched.unionByName(applied).unionByName(inserts)
  }
}
