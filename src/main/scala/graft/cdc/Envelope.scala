package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** The CDC change-event envelope and its core transforms.
  *
  * Models the pgoutput/wal2json message stream the reference consumes:
  * `(lsn, log)` pairs with a `tag` and optional `new`/`old` row images
  * (`/root/reference/src/database/postgresql/PostgresLogicalPg.ts:21-23`,
  * `/root/reference/src/mapping/customMapper.ts:12-24`). Three
  * deliberate upgrades over the reference, per SURVEY §1.1/§7.4.7-8:
  *
  *  - the snake_case→camelCase rename is an explicit typed projection
  *    (the reference blind-casts `data.new as Student`,
  *    `customMapper.ts:23`, leaving the drift unreconciled);
  *  - last-image-wins replay is ordered by LSN, so replaying a
  *    duplicated micro-batch is idempotent (the reference auto-acks on
  *    a timer even when the send failed, `PostgresOperation.ts:24-29`);
  *  - transforms are plain `DataFrame => DataFrame` so the same code
  *    runs batch (snapshot) and streaming (subscription) — the
  *    reference's two disconnected paths (`main.ts:164-178`).
  */
object Envelope {

  /** Row-image schema for the `students` table (FIXTURES.md §2). */
  val rowImage: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("first_name", StringType),
    StructField("last_name", StringType),
    StructField("date_of_birth", StringType),
    StructField("status_id", IntegerType)))

  /** Full envelope: lsn + tag + table + new/old images. `old` carries
    * the key only — the default REPLICA IDENTITY wire shape. */
  val schema: StructType = StructType(Seq(
    StructField("lsn", StringType),
    StructField("tag", StringType),
    StructField("table", StringType),
    StructField("new", rowImage),
    StructField("old", StructType(Seq(StructField("id", LongType))))))

  /** Envelope for a source running REPLICA IDENTITY FULL: wal2json's
    * `old` then carries the COMPLETE pre-change row on updates/deletes
    * (the reference's event type allows it —
    * `/root/reference/src/database/postgresql/PostgresLogicalPg.ts:21-23`,
    * Wal2Json.Output — though its consumer never reads `old`;
    * SURVEY §1.1 item 2). [[project]] passes the extra old fields
    * through as `old`-prefixed camelCase columns, giving before/after
    * diff consumers both images in one row. */
  val schemaFullOld: StructType = StructType(Seq(
    StructField("lsn", StringType),
    StructField("tag", StringType),
    StructField("table", StringType),
    StructField("new", rowImage),
    StructField("old", rowImage)))

  /** Transaction-control tags dropped by the reference's filter
    * (`customMapper.ts:12-13`). */
  val controlTags: Seq[String] = Seq("begin", "commit", "relation")

  /** Row-change tags the engine can apply incrementally. */
  val rowTags: Seq[String] = Seq("insert", "update", "delete")

  /** A4 — keep only row-change events. NULL tags are KEPT, not
    * dropped: a null tag is corrupt input (a garbled line under
    * PERMISSIVE JSON parsing reads back as an all-null envelope), and
    * the old `!isin(...)` predicate's three-valued logic silently
    * filtered it — a lost change event diverging the materialized
    * state with no error. Kept rows hit [[checkedTag]]'s loud refusal
    * at the projection instead. */
  def tagFilter: Column =
    coalesce(!col("tag").isin(controlTags.map(x => x: Any): _*), lit(true))

  /** The projection's tag gate: anything that survives [[tagFilter]]
    * but is not a row-change tag fails the batch LOUDLY — 'truncate'
    * above all (a `FOR ALL TABLES` publication replicates TRUNCATE by
    * default; the reference's mapper silently drops imageless events,
    * `customMapper.ts:16-24`, which for a truncate means state
    * silently retains every row the source just removed), but also
    * informational messages ('message'/'origin'/'type') and corrupt
    * input (NULL tag). Applying a truncate incrementally is
    * impossible — the fix is a re-snapshot + stream restart;
    * informational messages need an upstream filter (or an extended
    * [[controlTags]]) — both operator decisions the engine must not
    * silently make. */
  private def checkedTag: Column =
    when(col("tag").isin(rowTags.map(x => x: Any): _*), col("tag"))
      .otherwise(raise_error(concat(
        lit("[graft] unsupported CDC tag '"), coalesce(col("tag"), lit("<null>")),
        lit("' — the engine applies insert/update/delete incrementally; a truncate " +
          "requires a re-snapshot + stream restart, informational messages an upstream " +
          "filter, and a NULL tag is corrupt input"))))

  /** The projection's key gate: a NULL merge key never matches any
    * null-unsafe join downstream, so the row would silently re-insert
    * a duplicate on every at-least-once delivery instead of merging —
    * refuse at the projection, where the key is born. */
  private def checkedKey(c: Column, name: String, t: DataType): Column =
    when(c.isNotNull, c).otherwise(raise_error(lit(
      s"[graft] CDC event with NULL key '$name' — inserts/updates must carry new.$name, " +
        s"deletes old.$name (REPLICA IDENTITY); a null key cannot merge and would " +
        s"silently duplicate on redelivery")).cast(t))

  /** Output-name injectivity under case-insensitive resolution —
    * shared by [[project]]'s drift extras and [[projectRelation]]'s
    * registry outputs, so the two edges can never drift apart on what
    * "collides" means. */
  private def requireInjectiveOutputs(what: String, outs: Seq[(String, String)]): Unit =
    outs.groupBy(_._2.toLowerCase(java.util.Locale.ROOT)).values
      .filter(_.size > 1).foreach { clash =>
        throw new IllegalArgumentException(
          s"[graft] $what fields ${clash.map(_._1).mkString("'", "', '", "'")} " +
            s"all fold to output name '${clash.head._2}' — rename them upstream")
      }

  /** A5 — null-safe row-image extraction with the authoritative
    * snake_case→camelCase mapping (FIXTURES.md §2 table). Delete events
    * have no `new` image; their key comes from `old.id`.
    *
    * ADDITIVE SCHEMA DRIFT: the reference's `relation` message carries
    * schema changes and is filtered out ([[controlTags]]); when a
    * consumer reacts to one by restarting the stream with a WIDENED
    * envelope schema, any `new.*` field beyond the known five passes
    * through here under its camelCased name — so the same projection
    * serves both pre- and post-drift readers, and the downstream
    * materializer widens its state to match (null for pre-drift rows).
    * A drifted field whose camelCase collides with a projection or
    * bookkeeping name would silently shadow it — refuse loudly. */
  private val knownImageFields = Set("id", "first_name", "last_name", "date_of_birth", "status_id")

  private[graft] def camelCase(s: String): String = {
    val parts = s.split("_").filter(_.nonEmpty)
    if (parts.isEmpty) s
    else (parts.head +: parts.tail.map(p => p.head.toUpper.toString + p.tail)).mkString
  }

  /** Canonicalize a Postgres LSN to fixed-width `%08X/%08X`. The wire
    * format prints each 32-bit half WITHOUT leading zeros
    * (`0/16B2D80`, as the reference logs it — `main.ts:71`), so raw
    * lexicographic comparison mis-orders across width boundaries
    * (`'0/9' > '0/10'`). Every LSN ordering downstream — the
    * last-image windows, the CAS merge, the JDBC version guard's SQL
    * `<` — is a string compare, so normalizing ONCE at the projection
    * edge makes them all numerically correct with no schema change.
    * conv() accepts upper/lower hex; 32-bit halves always fit %08X. */
  def normalizeLsn(c: Column): Column = {
    val parts = split(c, "/")
    // malformed input must fail LOUDLY, not sort arbitrarily: a
    // slash-less or non-hex lsn would conv() to null halves and
    // format as garbage that silently mis-orders every downstream
    // compare — the opposite of the engine's fail-loudly guards
    when(c.rlike("^[0-9a-fA-F]{1,8}/[0-9a-fA-F]{1,8}$"),
      format_string("%08X/%08X",
        conv(parts.getItem(0), 16, 10).cast(LongType),
        conv(parts.getItem(1), 16, 10).cast(LongType)))
      .otherwise(raise_error(concat(
        lit("[graft] malformed LSN '"), coalesce(c, lit("<null>")),
        lit("' — expected <hex32>/<hex32> wire format"))))
  }

  def project(df: DataFrame): DataFrame = {
    val extras: Seq[StructField] = df.schema.fields.find(_.name == "new").map(_.dataType) match {
      case Some(s: StructType) => s.fields.filterNot(f => knownImageFields(f.name)).toSeq
      case _ => Seq.empty
    }
    // REPLICA IDENTITY FULL: any `old` field beyond the key is the
    // pre-change image — pass it through as oldXxx (null on inserts,
    // and on every event of a default-identity stream, whose key-only
    // `old` adds no columns here: backward-compatible by construction).
    // Updates then carry (new, old) side by side for before/after diff
    // consumers; deletes carry the full final image of the removed row.
    val oldExtras: Seq[StructField] = df.schema.fields.find(_.name == "old").map(_.dataType) match {
      case Some(s: StructType) => s.fields.filterNot(_.name == "id").toSeq
      case _ => Seq.empty
    }
    // ONE list is both the select and the shadow-guard vocabulary —
    // deriving fixedNames from it means adding a projected column can
    // never silently re-open the drift-shadowing hole a stale
    // hand-maintained set would leave
    val fixedCols: Seq[(String, Column)] = Seq(
      "lsn" -> normalizeLsn(col("lsn")),
      "tag" -> checkedTag,
      "id" -> checkedKey(coalesce(col("new.id"), col("old.id")), "id", LongType),
      "firstName" -> col("new.first_name"),
      "lastName" -> col("new.last_name"),
      "dateOfBirth" -> col("new.date_of_birth").cast(DateType),
      "status" -> col("new.status_id"))
    val fixedNames = fixedCols.map(_._1.toLowerCase(java.util.Locale.ROOT)).toSet +
      "__rn" // lastImageByKey's bookkeeping — shadowing it clobbers the fold
    // known old fields mirror the new side's rename/cast conventions
    // (oldStatus not oldStatusId, oldDateOfBirth as a DATE) so a diff
    // consumer compares like with like; drifted old fields fold
    // generically (old_email_x → oldEmailX)
    val oldKnown: Map[String, (String, Column)] = Map(
      "first_name" -> ("oldFirstName", col("old.first_name")),
      "last_name" -> ("oldLastName", col("old.last_name")),
      "date_of_birth" -> ("oldDateOfBirth", col("old.date_of_birth").cast(DateType)),
      "status_id" -> ("oldStatus", col("old.status_id")))
    def oldOut(f: StructField): String =
      oldKnown.get(f.name).map(_._1).getOrElse(camelCase("old_" + f.name))
    def oldCol(f: StructField): Column =
      oldKnown.get(f.name).map(_._2).getOrElse(col(s"old.${f.name}"))
    (extras.map(f => f.name -> camelCase(f.name)) ++
      oldExtras.map(f => s"old.${f.name}" -> oldOut(f))).foreach { case (in, out) =>
      require(!fixedNames.contains(out.toLowerCase(java.util.Locale.ROOT)),
        s"[graft] image field '$in' would shadow projected column '$out' — rename it upstream")
    }
    // the fold must also be injective AMONG the extras: two drifted
    // fields collapsing to one camelCase (`email_x` and `emailX`) would
    // emit duplicate output columns and poison every downstream
    // resolution with ambiguity errors — refuse at the projection. The
    // old-image outputs join the same vocabulary: a drifted `new` field
    // literally named old_first_name must not collide with the
    // old-image projection of first_name.
    requireInjectiveOutputs("projected image",
      extras.map(f => f.name -> camelCase(f.name)) ++
        oldExtras.map(f => s"old.${f.name}" -> oldOut(f)))
    df.filter(tagFilter)
      .select(fixedCols.map { case (n, c) => c.as(n) } ++
        extras.map(f => col(s"new.${f.name}").as(camelCase(f.name))) ++
        oldExtras.map(f => oldCol(f).as(oldOut(f))): _*)
  }

  /** A relation in a multi-table CDC stream — the per-table schema
    * registry entry for `FOR ALL TABLES` publications
    * (`/root/reference/terraform/setup_database.sql:17`: the
    * reference's slot carries `students` AND `status`, though its
    * consumer only ever decodes students). `image` declares the STATE
    * schema (source field name → state type; values cast on
    * projection), `key` names the image's key field, `renames`
    * overrides the default snake_case→camelCase output name per field.
    *
    * Schema drift in a multi-table stream is registry-driven: only
    * REGISTERED fields project (the union read schema makes every
    * table's fields visible to every event, so a blanket pass-through
    * would leak sibling tables' nulls into each state) — a producer
    * ALTER means restarting with a widened `image`, and the
    * materializer's state widening handles history exactly as in the
    * single-table path. */
  final case class Relation(name: String, image: StructType, key: String = "id",
      renames: Map[String, String] = Map.empty) {
    def outName(field: String): String = renames.getOrElse(field, camelCase(field))
  }

  /** The reference's two relations (`terraform/setup_database.sql:1-15`). */
  val studentsRelation: Relation = Relation("students",
    StructType(Seq(
      StructField("id", LongType),
      StructField("first_name", StringType),
      StructField("last_name", StringType),
      StructField("date_of_birth", DateType),
      StructField("status_id", IntegerType))),
    renames = Map("status_id" -> "status"))

  val statusRelation: Relation = Relation("status",
    StructType(Seq(
      StructField("id", LongType),
      StructField("value", StringType))))

  /** Envelope read schema for a multi-table stream: `new` is the UNION
    * of every registered relation's image (JSON null-fills the fields
    * an event's table doesn't carry), `old` the union of key fields.
    * Same-named fields across relations unify on the wider numeric
    * type within a family; an incompatible clash (e.g. one table's
    * `id` a string, another's a long) fails here, at registry build,
    * not row-by-row in the stream. */
  def unionSchema(relations: Seq[Relation]): StructType = {
    require(relations.map(_.name).distinct.size == relations.size,
      s"[graft] duplicate relation names in ${relations.map(_.name).mkString(", ")}")
    def unify(fields: Seq[(String, StructField)]): Seq[StructField] = {
      val out = scala.collection.mutable.LinkedHashMap[String, StructField]()
      fields.foreach { case (rel, f) =>
        out.get(f.name) match {
          case None => out(f.name) = f
          case Some(prev) if prev.dataType == f.dataType => ()
          case Some(prev) =>
            val wide = widerNumericType(prev.dataType, f.dataType).getOrElse(
              throw new IllegalArgumentException(
                s"[graft] field '${f.name}' is ${prev.dataType} in one relation and " +
                  s"${f.dataType} in '$rel' — incompatible types cannot share a union envelope"))
            out(f.name) = prev.copy(dataType = wide)
        }
      }
      out.values.toSeq
    }
    val newStruct = unify(relations.flatMap(r => r.image.fields.map(r.name -> _)))
    val oldStruct = unify(relations.flatMap(r =>
      r.image.fields.filter(_.name == r.key).map(r.name -> _)))
    StructType(Seq(
      StructField("lsn", StringType),
      StructField("tag", StringType),
      StructField("table", StringType),
      StructField("new", StructType(newStruct)),
      StructField("old", StructType(oldStruct))))
  }

  /** Wider numeric type WITHIN a family (integral byte<short<int<long;
    * fractional float<double): the safe ALTER COLUMN widenings a CDC
    * producer performs, shared by [[unionSchema]] and the materializers'
    * state widening. Cross-family and non-numeric pairs return None, so
    * the caller's own analysis decides — no silent lossy cast here. */
  private[graft] def widerNumericType(a: DataType, b: DataType): Option[DataType] = {
    val integral = Map[DataType, Int](ByteType -> 1, ShortType -> 2, IntegerType -> 3, LongType -> 4)
    val fractional = Map[DataType, Int](FloatType -> 1, DoubleType -> 2)
    if (a == b) Some(a)
    else (integral.get(a), integral.get(b), fractional.get(a), fractional.get(b)) match {
      case (Some(x), Some(y), _, _) => Some(if (x >= y) a else b)
      case (_, _, Some(x), Some(y)) => Some(if (x >= y) a else b)
      case _ => None
    }
  }

  /** Per-relation projection for a multi-table stream: the registry
    * twin of [[project]]. Keeps `lsn`/`tag`, takes the key null-safely
    * from `new`/`old` (deletes carry only `old`), selects ONLY the
    * relation's registered image fields — cast to their declared state
    * types — under their camelCased (or renamed) output names. The
    * caller demuxes first (`df.filter(col("table") === rel.name)`);
    * this projection is per-relation by construction. Output names get
    * the same injectivity guard as [[project]]'s drift extras. */
  def projectRelation(df: DataFrame, rel: Relation): DataFrame = {
    val outs = rel.image.fields.map(f => f.name -> rel.outName(f.name))
    val lowered = outs.map(_._2.toLowerCase(java.util.Locale.ROOT))
    requireInjectiveOutputs(s"relation '${rel.name}' image", outs)
    require(!lowered.exists(Set("lsn", "tag", "__rn").contains),
      s"[graft] relation '${rel.name}' image field would shadow engine bookkeeping " +
        s"(lsn/tag/__rn) — a rename to '__rn' would be silently clobbered by the " +
        s"last-image fold's row-number column")
    require(rel.image.fields.exists(_.name == rel.key),
      s"[graft] relation '${rel.name}' key '${rel.key}' is not an image field")
    // the cast below goes from the UNION-widened read type down to the
    // relation's declared type — a NARROWING numeric cast (another
    // relation shares the field name with a wider type) would wrap
    // out-of-range values silently with ANSI mode off, unlike every
    // other guard in this engine. Refuse at plan build: the fix is to
    // declare the unified type in this relation's image.
    df.schema.fields.find(_.name == "new").map(_.dataType).foreach {
      case readStruct: StructType =>
        rel.image.fields.foreach { f =>
          readStruct.fields.find(_.name == f.name).foreach { actual =>
            if (actual.dataType != f.dataType &&
                widerNumericType(actual.dataType, f.dataType).contains(actual.dataType))
              throw new IllegalArgumentException(
                s"[graft] relation '${rel.name}' declares field '${f.name}' as " +
                  s"${f.dataType.simpleString} but the stream reads it as the wider " +
                  s"${actual.dataType.simpleString} (another relation shares the name) — " +
                  s"a narrowing cast wraps out-of-range values silently; declare the " +
                  s"unified type in the relation image")
          }
        }
      case _ => ()
    }
    val cols = rel.image.fields.map { f =>
      val src =
        if (f.name == rel.key)
          checkedKey(coalesce(col(s"new.${f.name}"), col(s"old.${f.name}"))
            .cast(f.dataType), f.name, f.dataType)
        else col(s"new.${f.name}").cast(f.dataType)
      src.as(rel.outName(f.name))
    }
    df.filter(tagFilter)
      .select(normalizeLsn(col("lsn")).as("lsn") +: checkedTag.as("tag") +: cols: _*)
  }

  /** A9/Q19 — final-state replay: latest event per key wins (LSN order,
    * fixed-width hex so lexicographic = numeric), deletes drop the key.
    * Idempotent under duplicated batches: re-applying any prefix of
    * already-seen events cannot change the winner. */
  def lastImageByKey(projected: DataFrame, keyCol: String = "id"): DataFrame = {
    require(!projected.columns.exists(_.equalsIgnoreCase("__rn")),
      "[graft] column name '__rn' is reserved by lastImageByKey — rename it on the input")
    val w = Window.partitionBy(col(keyCol)).orderBy(col("lsn").desc)
    projected
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("tag") =!= "delete")
      .drop("__rn", "lsn", "tag")
  }

  /** The 64-bit numeric log position of a wire LSN — hi·2³² + lo, the
    * value Postgres' pg_lsn type compares by. Used wherever an LSN
    * becomes an ARITHMETIC validity bound (q50's history intervals,
    * the streaming SCD2 state) rather than an opaque ordering key.
    *
    * Bound: the result is a SIGNED long, so ordering is correct up to
    * hi < 0x80000000 (~9.2 EB of WAL — beyond any real server's
    * lifetime write volume). Past that, hi·2³² is computed via
    * shiftleft so the value wraps DETERMINISTICALLY to negative
    * rather than the old conv(16-hex)→cast path's silent NULL (which
    * would have corrupted valid_from/valid_to instead of merely
    * inverting the epoch ordering). */
  def lsnNumeric(c: Column): Column =
    shiftleft(conv(split(c, "/").getItem(0), 16, 10).cast(LongType), 32) +
      conv(split(c, "/").getItem(1), 16, 10).cast(LongType)

  /** SCD2 (type-2 dimension) history fold over numeric-LSN events
    * `(keyCol, tag, valid_from, image…)`: every insert/update image
    * becomes a history row valid `[valid_from, next event's LSN)`; a
    * delete contributes its LSN through the lead window (closing the
    * previous interval) and emits no row; the open interval is the
    * current row. ONE key-partitioned window — the same partitioning
    * [[lastImageByKey]] shuffles on, so the history build costs one
    * extra pass over the already-key-clustered stream. Shared by the
    * q50 batch replay and [[graft.streaming.Streams.materializeScd2]]
    * (which re-folds only open intervals + fresh events per batch) so
    * the two paths cannot drift. */
  def scd2Fold(events: DataFrame, keyCol: String = "id"): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("valid_from"))
    events
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .filter(col("tag") =!= "delete")
      .drop("tag")
      .withColumn("is_current", when(col("valid_to").isNull, lit(1)).otherwise(lit(0)))
  }

  /** Point-in-time (time-travel) read over an SCD2 history — the query
    * the type-2 table exists to answer: the table AS OF `lsn` is every
    * interval containing it, `valid_from ≤ lsn < valid_to` (open
    * intervals unbounded). Works identically on the q50 batch output
    * and on [[graft.streaming.Streams.materializeScd2]]'s state table;
    * CdcSpec pins asOf(max) == the q19 last-image fold and asOf(mid) ==
    * the fold of the event prefix up to that LSN. A partition-pruned
    * layout at scale: partition the history by is_current (the open
    * slice serves "now" queries without touching closed history). */
  def scd2AsOf(history: DataFrame, lsn: Long): DataFrame =
    history
      .filter(col("valid_from") <= lsn &&
        (col("valid_to").isNull || col("valid_to") > lsn))
      .drop("valid_from", "valid_to", "is_current")

  /** §1.3 typed edge — the reference's `Student` io-ts codec
    * (`/root/reference/src/model/student.ts:3-9`) as a case class +
    * product Encoder. The engine core stays untyped DataFrame (full
    * Catalyst/codegen); the typed view is offered exactly where the
    * reference puts its codec: at the API boundary. Expects complete
    * row images — i.e. the output of [[lastImageByKey]] (delete events
    * carry no `new` image, so their fields would be null). */
  final case class Student(id: Long, firstName: String, lastName: String,
      dateOfBirth: java.sql.Date, status: Int)

  def typed(finalState: DataFrame): Dataset[Student] = {
    val spark = finalState.sparkSession
    import spark.implicits._
    finalState.select(col("id"), col("firstName"), col("lastName"),
      col("dateOfBirth"), col("status")).as[Student]
  }

  /** Parse a raw JSON-line DataFrame (one envelope per line) — the
    * `from_json` edge for kafka-style value columns. Pass a widened
    * `envelopeSchema` after a schema-drift restart, exactly as with
    * the file-stream reader. */
  def parse(raw: DataFrame, valueCol: String = "value",
      envelopeSchema: StructType = schema): DataFrame =
    raw.select(from_json(col(valueCol), envelopeSchema).as("e")).select(col("e.*"))
}
