package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types._

/** JDBC batch snapshot source/sink — the reference's initial-load path
  * (`/root/reference/src/database/postgresql/PostgresOperation.ts:69-86`:
  * a full-table `SELECT * FROM students` pulled through an async row
  * iterator and materialized to a driver-side array) re-expressed as
  * Spark's JDBC relation, which it explicitly is not:
  *
  *  - the scan is an executor-side relation, never a driver array —
  *    a 100 TB snapshot streams through the cluster, not the driver;
  *  - [[snapshotPartitioned]] splits the pull into range predicates
  *    (`WHERE col >= lo AND col < hi`), one connection per partition —
  *    the parallel-ingest shape; a single-connection read (the
  *    reference's, and [[snapshot]] without partitioning options) is
  *    bottlenecked on one socket no matter the cluster size;
  *  - filters and column pruning push into the remote SQL (asserted in
  *    JdbcSpec): the database ships matching rows of selected columns,
  *    not the table.
  *
  * Exercised in-harness against EMBEDDED Derby (in-JVM, zero network,
  * ships with Spark for the Hive metastore — JdbcSpec); against
  * Postgres the wiring is the same API with `url = "jdbc:postgresql:…"`
  * and the pg driver on the classpath.
  */
object Jdbc {

  /** Whole-table snapshot over one connection (the reference's shape,
    * minus the driver materialization). Fine for dimension-sized
    * tables; use [[snapshotPartitioned]] for anything big. */
  def snapshot(spark: SparkSession, url: String, table: String,
      props: Map[String, String] = Map.empty): DataFrame =
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .options(props).load()

  /** Range-partitioned parallel snapshot: `numPartitions` concurrent
    * range scans on `partitionColumn` (numeric/date/timestamp). Bounds
    * only shape the split points — rows OUTSIDE [lower, upper) still
    * arrive, in the two edge partitions — so a stale bound estimate
    * skews parallelism, never correctness. */
  def snapshotPartitioned(spark: SparkSession, url: String, table: String,
      partitionColumn: String, lowerBound: Long, upperBound: Long,
      numPartitions: Int, props: Map[String, String] = Map.empty): DataFrame =
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("partitionColumn", partitionColumn)
      .option("lowerBound", lowerBound).option("upperBound", upperBound)
      .option("numPartitions", numPartitions)
      .options(props).load()

  /** JDBC sink: each partition writes over its own connection in
    * batched inserts (`batchsize`, default 1000). `Overwrite` drops and
    * recreates (or truncates, with `truncate=true`) — schema authority
    * stays with the DataFrame; `Append` trusts the existing table. */
  def write(df: DataFrame, url: String, table: String, mode: SaveMode,
      props: Map[String, String] = Map.empty): Unit =
    df.write.format("jdbc")
      .option("url", url).option("dbtable", table)
      .options(props).mode(mode).save()

  /** ANSI DDL type for a change-set column — the subset a CDC payload
    * uses; extend per dialect as payloads widen. */
  private def ddlType(dt: DataType): String = dt match {
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case ShortType | ByteType => "SMALLINT"
    case StringType => "VARCHAR(512)"
    case DateType => "DATE"
    case TimestampType => "TIMESTAMP"
    case DoubleType => "DOUBLE"
    case FloatType => "REAL"
    case BooleanType => "BOOLEAN"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case other => throw new IllegalArgumentException(
      s"[graft] no JDBC DDL mapping for $other — cast the column first")
  }

  private def sqlType(dt: DataType): Int = dt match {
    case LongType => java.sql.Types.BIGINT
    case IntegerType => java.sql.Types.INTEGER
    case ShortType | ByteType => java.sql.Types.SMALLINT
    case StringType => java.sql.Types.VARCHAR
    case DateType => java.sql.Types.DATE
    case TimestampType => java.sql.Types.TIMESTAMP
    case DoubleType => java.sql.Types.DOUBLE
    case FloatType => java.sql.Types.REAL
    case BooleanType => java.sql.Types.BOOLEAN
    case _: DecimalType => java.sql.Types.DECIMAL
    case _ => java.sql.Types.OTHER
  }

  /** ANSI double-quoting, matching Spark's own JDBC writer — so a
    * table seeded by [[write]] (quoted, case-exact columns) and one
    * created by [[ensureTable]] both resolve from [[applyChanges]]'s
    * DML. Unquoted identifiers would fold (Derby: uppercase) and miss
    * the writer-created case-exact columns. */
  private def quoted(name: String): String = "\"" + name.replace("\"", "\"\"") + "\""

  private def connect(url: String, props: Map[String, String]): java.sql.Connection = {
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    java.sql.DriverManager.getConnection(url, p)
  }

  /** One open connection for a sequence of driver-side metadata/DDL
    * steps, or for one partition's apply ([[perPartition]]) — the only
    * opener of a connection. The per-batch guard+ensure path opens ONE
    * connection and probes the table ONCE instead of re-resolving
    * identifier and columns per step over fresh connections. The
    * connection keeps autocommit unless [[transaction]] turns it off. */
  private[graft] def withConnection[T](url: String,
      props: Map[String, String] = Map.empty)(f: java.sql.Connection => T): T = {
    val c = connect(url, props)
    try f(c) finally c.close()
  }

  /** The one JDBC transaction policy: autocommit off, run `body`,
    * commit; on any throwable a best-effort rollback, then rethrow.
    * Every multi-statement write commits through here, so a failure
    * anywhere in `body` leaves the table as the last commit left it.
    * The single-statement driver writes ([[backfillNullStamps]],
    * [[deleteExpiredTombstones]]) and the DDL keep autocommit. */
  private def transaction[T](c: java.sql.Connection)(body: => T): T =
    try {
      c.setAutoCommit(false)
      val out = body
      c.commit()
      out
    } catch {
      case t: Throwable => try c.rollback() catch { case _: Throwable => () }; throw t
    }

  /** The executor-side apply shape of [[applyChanges]],
    * [[applyChangesVersioned]], [[applyScd2]] and [[replaceScd2Keys]]:
    * each non-empty partition runs `body` over its own connection as
    * one [[transaction]]. Atomicity is therefore per partition, not per
    * batch: a crash mid-batch can leave some partitions applied, and
    * exactly-once-EQUIVALENCE comes from each apply's replay being
    * idempotent. Callers partition by key, so no key spans two
    * transactions. */
  private def perPartition(rows: DataFrame, url: String, props: Map[String, String])(
      body: (java.sql.Connection, Iterator[Row]) => Unit): Unit =
    rows.foreachPartition { (it: Iterator[Row]) =>
      if (it.hasNext) withConnection(url, props)(c => transaction(c)(body(c, it)))
    }

  /** One statement's update count, the statement closed after it. */
  private def update(c: java.sql.Connection, sql: String): Int = {
    val st = c.createStatement()
    try st.executeUpdate(sql) finally st.close()
  }

  /** `f` over one query's result set, result set and statement closed after it. */
  private def query[T](c: java.sql.Connection, sql: String)(f: java.sql.ResultSet => T): T = {
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(sql)
      try f(rs) finally rs.close()
    } finally st.close()
  }

  /** The one statement-batch bound: at most this many queued statements
    * per `executeBatch` before a flush. [[applyChanges]],
    * [[applyChangesVersioned]] and [[canonicalizeLsns]] count it in
    * ROWS; [[applyScd2]] and [[replaceScd2Keys]] count it in KEY
    * CLUSTERS, so their flushes always end at a key boundary. */
  private val statementBatch = 1000

  /** Index of `name` in `schema`, matched case-insensitively; a missing
    * column is refused naming its role (`what`). */
  private def fieldIdx(schema: StructType, name: String, what: String): Int =
    schema.fieldIndex(schema.fields.map(_.name).find(_.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalArgumentException(
        s"[graft] $what '$name' not in ${schema.fieldNames.mkString(",")}")))

  /** (dataType, source row index, 1-based statement position) per
    * column of `cols`, resolved once — not a fieldIndex lookup per row;
    * [[bind]] sets them. */
  private def slotsOf(schema: StructType,
      cols: Seq[StructField]): Array[(DataType, Int, Int)] =
    cols.zipWithIndex.map { case (f, i) => (f.dataType, schema.fieldIndex(f.name), i + 1) }.toArray

  private def bind(ps: java.sql.PreparedStatement, slots: Array[(DataType, Int, Int)],
      row: Row): Unit =
    slots.foreach { case (dt, srcIdx, pos) => setParam(ps, pos, dt, row, srcIdx) }

  /** Connection's current schema as a metadata pattern — scopes
    * getTables/getColumns to where unqualified DDL/DML resolves, so a
    * same-named table in ANOTHER schema can't contaminate results.
    * null (= all schemas) only when the driver can't say. */
  private def currentSchemaPattern(c: java.sql.Connection): String =
    try c.getSchema catch { case _: Throwable => null }

  /** Case-fold name patterns for a metadata probe: getTables/getColumns
    * patterns match the STORED identifier case-sensitively (and `_` is
    * a single-char wildcard), so probe the common folds first. A table
    * stored under a MIXED-case identifier (quoted DDL) matches none of
    * them — the caller falls back to a `null` pattern (full-schema
    * listing) screened by the same case-insensitive TABLE_NAME check,
    * so existence detection can never diverge from the database's
    * actual identifier (a divergence silently turns the drift and
    * canonical-version guards into no-ops). */
  private def tableNamePatterns(table: String): Seq[String] =
    Seq(table,
      table.toUpperCase(java.util.Locale.ROOT),
      table.toLowerCase(java.util.Locale.ROOT)).distinct

  /** The STORED identifier and metadata TABLE_TYPE for `table` in the
    * connection's current schema, or None when nothing matches. Probes
    * the case-fold patterns first; when all miss, falls back to a
    * full-schema `getTables` listing (one row per TABLE — far cheaper
    * than the column listing) screened case-insensitively, so a
    * mixed-case quoted identifier is still FOUND rather than silently
    * turning the drift/canonical guards into no-ops. If several stored
    * identifiers match case-insensitively (quoted DDL can put
    * `"students"` next to `STUDENTS`), the one unquoted SQL can
    * actually address wins: exact form, then UPPER, then lower, then
    * the mixed-case leftover — merging their metadata would be wrong. */
  private def findStoredTable(c: java.sql.Connection,
      table: String): Option[(String, String)] = {
    val schemaPat = currentSchemaPattern(c)
    def scan(pat: String): List[(String, String)] = {
      val rs = c.getMetaData.getTables(null, schemaPat, pat, null)
      try Iterator.continually(rs).takeWhile(_.next())
        .filter(_.getString("TABLE_NAME").equalsIgnoreCase(table))
        .map(r => r.getString("TABLE_NAME") ->
          Option(r.getString("TABLE_TYPE")).getOrElse("UNKNOWN"))
        .toList
      finally rs.close()
    }
    val hits = {
      val folded = tableNamePatterns(table).flatMap(scan).distinct
      if (folded.nonEmpty) folded else scan(null).distinct
    }
    val rank = tableNamePatterns(table)
    hits.sortBy { case (stored, _) =>
      val i = rank.indexOf(stored); if (i < 0) rank.size else i
    }.headOption
  }

  /** A stored identifier every engine statement can reach: the
    * materializer's DDL/DML and the guards' probes all use the
    * UNQUOTED name, which the dialect folds — a mixed-case stored
    * identifier (quoted DDL) is findable in metadata but unaddressable
    * by that SQL, so every subsequent statement would raw-fail
    * ("table does not exist") in a per-batch crash loop. Refuse ONCE,
    * loudly, with the identifier named instead. */
  private def requireAddressable(stored: String, table: String): Unit =
    if (!tableNamePatterns(table).contains(stored))
      throw new IllegalStateException(
        s"[graft] table '$table' exists only as the mixed-case identifier '$stored' " +
          s"(quoted DDL) — the engine's unquoted SQL cannot address it; rename the " +
          s"table to an unquoted-addressable form or pass the exact stored name")

  /** `getColumns` on an already-resolved STORED identifier. `_` in the
    * name is a pattern wildcard: screen rows on the EXACT stored
    * identifier, not case-insensitively — a sibling differing only by
    * case must not merge its columns in. */
  private def columnsOfStored(c: java.sql.Connection,
      stored: String): Map[String, ColumnMeta] = {
    val rs = c.getMetaData.getColumns(null, currentSchemaPattern(c), stored, null)
    try Iterator.continually(rs).takeWhile(_.next())
      .filter(_.getString("TABLE_NAME") == stored)
      .map(r => r.getString("COLUMN_NAME").toLowerCase(java.util.Locale.ROOT) ->
        ColumnMeta(r.getInt("DATA_TYPE"),
          r.getInt("NULLABLE") != java.sql.DatabaseMetaData.columnNoNulls,
          r.getString("COLUMN_DEF") != null))
      .toMap
    finally rs.close()
  }

  /** One resolution of a table's existence, stored identifier, type,
    * and columns — shared by the drift guard and [[ensureTable]] so a
    * micro-batch pays ONE metadata probe, not one per consumer. Existence
    * via [[findStoredTable]], then ONE exact `getColumns` on the stored
    * identifier; fails loudly (rather than returning metadata the
    * engine's SQL can't use) when the only match is a mixed-case
    * identifier. */
  private[graft] final case class TableProbe(
      stored: Option[(String, String)], columns: Map[String, ColumnMeta])

  private[graft] def probeTable(c: java.sql.Connection, table: String): TableProbe =
    findStoredTable(c, table) match {
      case None => TableProbe(None, Map.empty)
      case hit @ Some((stored, _)) =>
        requireAddressable(stored, table)
        TableProbe(hit, columnsOfStored(c, stored))
    }

  /** Create `table` (key PRIMARY KEY + payload columns) if it doesn't
    * exist; if it does, WIDEN it additively — any schema column the
    * remote table lacks is added via `ALTER TABLE ADD COLUMN`
    * (nullable, so pre-drift rows read back as NULL: the JDBC half of
    * the CDC schema-drift contract, mirroring the parquet state's
    * null-fill). Existing columns are never altered or dropped —
    * narrowing and type changes stay a DBA decision. Driver-side, once
    * per micro-batch (a metadata read when nothing changed). */
  def ensureTable(url: String, table: String, schema: StructType, keyCol: String,
      props: Map[String, String] = Map.empty): Unit =
    withConnection(url, props)(c => ensureTableOn(c, table, schema, keyCol, probeTable(c, table)))

  /** [[ensureTable]] against an open connection and a pre-fetched
    * [[TableProbe]].
    *
    * Metadata reads are SCOPED to the connection's current schema +
    * this table's name pattern, not the whole catalog: an unscoped
    * getColumns pulls every column of every table per micro-batch,
    * and a same-named table in another schema could mark a
    * genuinely-missing column present (widening ALTER skipped → the
    * batch INSERT fails). The full-schema listing runs only as the
    * mixed-case fallback ([[findStoredTable]]). */
  private[graft] def ensureTableOn(c: java.sql.Connection, table: String,
      schema: StructType, keyCol: String, probe: TableProbe): Unit =
    probe.stored match {
      case Some((stored, ttype)) if ttype != "TABLE" =>
        // a VIEW (or synonym) under the target name must not be
        // widened with ALTER or silently written THROUGH into its
        // base table — CREATE would clash on the name anyway
        throw new IllegalStateException(
          s"[graft] '$table' exists as $ttype '$stored', not a base table — the CDC " +
            s"materializer will not write through or alter a $ttype; drop or rename it, " +
            s"or point the materializer at a different table name")
      case None =>
        val cols = schema.fields.map { f =>
          val pk = if (f.name.equalsIgnoreCase(keyCol)) " NOT NULL PRIMARY KEY" else ""
          s"${quoted(f.name)} ${ddlType(f.dataType)}$pk"
        }.mkString(", ")
        update(c, s"CREATE TABLE $table ($cols)")
      case Some(_) =>
        val have = probe.columns.keySet
        schema.fields.filterNot(f => have(f.name.toLowerCase(java.util.Locale.ROOT)))
          .foreach(f =>
            update(c, s"ALTER TABLE $table ADD COLUMN ${quoted(f.name)} ${ddlType(f.dataType)}"))
    }

  /** [[ensureTableOn]] for an SCD2 history ([[applyScd2]],
    * [[replaceScd2Keys]]): no primary key — a history is many rows per
    * key — and, when this call CREATES the table, a non-unique index
    * `<table>_graft_key` on the key column in the same DDL step, so
    * the high-water probe, the close and the unordered path's per-key
    * DELETE are index lookups instead of history scans. An existing
    * table gets no index: its indexes are its owner's business. A
    * crash between the two statements leaves the history unindexed,
    * which costs speed, never rows. */
  private[graft] def ensureScd2TableOn(c: java.sql.Connection, table: String,
      schema: StructType, keyCol: String, probe: TableProbe): Unit = {
    // no column matches the empty key name → no PRIMARY KEY
    ensureTableOn(c, table, schema, "", probe)
    if (probe.stored.isEmpty) {
      // the column as CREATE TABLE spelled it: quoted names are exact
      val key = schema.fieldNames.find(_.equalsIgnoreCase(keyCol)).getOrElse(keyCol)
      update(c, s"CREATE INDEX ${table}_graft_key ON $table (${quoted(key)})")
    }
  }

  /** One remote column's metadata, for the drift guard: JDBC type
    * plus whether an INSERT may omit it (nullable or defaulted). */
  final case class ColumnMeta(jdbcType: Int, nullable: Boolean, hasDefault: Boolean)

  /** (lower-cased column name → [[ColumnMeta]]) of an existing table;
    * empty map when the table doesn't exist. Scoped metadata read like
    * [[ensureTable]]'s (current schema + table-name pattern, with the
    * mixed-case fallback — which fails LOUDLY rather than returning
    * metadata for an identifier the engine's unquoted SQL can't
    * address). Used by the CDC materializer's non-additive-drift
    * guard. */
  def columnMeta(url: String, table: String,
      props: Map[String, String] = Map.empty): Map[String, ColumnMeta] =
    withConnection(url, props)(probeTable(_, table).columns)

  /** SQL predicate matching every `versionCol` value OFF the exact
    * canonical `%08X/%08X` shape, shared by [[requireCanonicalVersions]]
    * and [[canonicalizeLsns]] so the probe and the migration can never
    * disagree about what needs fixing. Catches NULL explicitly (SQL
    * three-valued logic would otherwise let NULL rows pass every
    * comparison — and a NULL version makes the CAS `<` guard
    * permanently false, an un-updatable row), wrong LENGTH, a
    * misplaced separator, and any non-uppercase-hex character at any
    * of the 16 digit positions (a 17-char value like `'zz…'` or
    * `'ZZZZZZZZ/00000001'` sorts ABOVE every real LSN in the SQL `<`,
    * so its key silently wins every CAS forever). Dialect-portable:
    * LENGTH/SUBSTR/IN only. */
  private def nonCanonicalPredicate(v: String): String = {
    val hex = (('0' to '9') ++ ('A' to 'F')).map(c => s"'$c'").mkString(", ")
    val digitPositions = ((1 to 8) ++ (10 to 17))
      .map(i => s"SUBSTR($v, $i, 1) NOT IN ($hex)")
    (Seq(s"$v IS NULL", s"LENGTH($v) <> 17", s"SUBSTR($v, 9, 1) <> '/'")
      ++ digitPositions).mkString(" OR ")
  }

  /** Fail loudly when a CAS table holds NON-CANONICAL version strings:
    * raw wire LSNs compare WRONG against canonical `%08X/%08X` ones
    * (`'/'` sorts below `'0'`), so a stale change could beat a newer
    * stored row. The probe rejects any value off the exact canonical
    * shape — NULL, wrong LENGTH, lowercase or non-hex characters
    * (`'a' > 'A'` and `'Z' > 'F'` in the SQL `<`), or a misplaced
    * separator — via the dialect-portable [[nonCanonicalPredicate]].
    * Run ONCE per stream start (it is a full scan — not a per-batch
    * check); no-op while the table doesn't exist. The fix is the
    * one-time [[canonicalizeLsns]] migration. */
  def requireCanonicalVersions(url: String, table: String, versionCol: String,
      props: Map[String, String] = Map.empty): Unit =
    withConnection(url, props) { c =>
      if (probeTable(c, table).columns.nonEmpty) {
        val v = quoted(versionCol)
        query(c, s"SELECT $v FROM $table WHERE ${nonCanonicalPredicate(v)}") { rs =>
          if (rs.next()) throw new IllegalStateException(
            s"[graft] $table holds non-canonical version string " +
              s"'${Option(rs.getString(1)).getOrElse("NULL")}' " +
              s"(expected 17-char %08X/%08X) — a pre-canonicalization CAS table must get " +
              s"the one-time LSN migration (Jdbc.canonicalizeLsns) before streaming " +
              s"resumes, or stale changes can overwrite newer rows")
        }
      }
    }

  /** One-time LSN canonicalization migration for a CAS table written
    * by pre-canonicalization code — the fix [[requireCanonicalVersions]]
    * prescribes when it refuses to stream. Rewrites every
    * NON-canonical `versionCol` value to fixed-width `%08X/%08X`:
    *
    *  - IDEMPOTENT: already-canonical rows don't match the probe
    *    predicate, so a re-run (including after a crash — the commit
    *    is all-or-nothing) touches zero rows;
    *  - TRANSACTIONAL: one [[transaction]], one commit after every
    *    update — a failure mid-way rolls back to the untouched table;
    *  - DIALECT-PORTABLE: the predicate is the probe's
    *    [[nonCanonicalPredicate]]; the canonical form is computed
    *    CLIENT-SIDE per DISTINCT raw value (no string-format SQL
    *    dependence), then applied as batched
    *    `UPDATE … SET v = ? WHERE v = ?` — O(distinct raw LSNs)
    *    statements, each a value-indexed rewrite, not O(rows);
    *  - FAIL-LOUD: a value that isn't a `<hex32>/<hex32>` wire LSN
    *    aborts the migration BEFORE any update (zero rows touched) —
    *    rewriting around it would leave a mix of canonical and
    *    garbage orderings, the exact state the guard exists to refuse.
    *
    * Returns the number of rows rewritten. Stop the stream, run this
    * once, restart — the stream-start probe then passes and the SQL
    * `<` CAS guard orders numerically again. */
  def canonicalizeLsns(url: String, table: String, versionCol: String,
      props: Map[String, String] = Map.empty): Long = {
    val wire = "^([0-9a-fA-F]{1,8})/([0-9a-fA-F]{1,8})$".r
    def canonical(raw: String): String = raw match {
      case null => throw new IllegalStateException(
        s"[graft] $table.$versionCol holds NULL — a NULL version makes the CAS guard " +
          s"permanently false for its key; repair or delete those rows first " +
          s"(no rows were touched)")
      case wire(hi, lo) =>
        f"${java.lang.Long.parseLong(hi, 16)}%08X/${java.lang.Long.parseLong(lo, 16)}%08X"
      case _ => throw new IllegalStateException(
        s"[graft] $table.$versionCol holds '$raw' — not a <hex32>/<hex32> wire LSN; " +
          s"canonicalizeLsns migrates wire LSNs only (no rows were touched)")
    }
    withConnection(url, props)(c => transaction(c) {
      val v = quoted(versionCol)
      // the probe's exact predicate ([[nonCanonicalPredicate]]): the
      // migration selects precisely what the guard refuses, so a
      // value the guard flags can never slip past the migration's
      // fail-loud validation below
      val raws = query(c, s"SELECT DISTINCT $v FROM $table WHERE ${nonCanonicalPredicate(v)}") {
        rs => Iterator.continually(rs).takeWhile(_.next()).map(_.getString(1)).toList
      }
      // validate ALL before updating ANY — see FAIL-LOUD above
      val mapping = raws.map(r => r -> canonical(r))
      var total = 0L
      val upd = c.prepareStatement(s"UPDATE $table SET $v = ? WHERE $v = ?")
      try mapping.grouped(statementBatch).foreach { chunk =>
        chunk.foreach { case (raw, canon) =>
          upd.setString(1, canon); upd.setString(2, raw); upd.addBatch()
        }
        // SUCCESS_NO_INFO (-2) drivers don't report per-statement
        // counts — the migration still applied; the total is best-effort
        total += upd.executeBatch().filter(_ > 0).map(_.toLong).sum
      } finally upd.close()
      total
    })
  }

  /** Coarse type family of a JDBC type code / Spark type — for the
    * drift guard's "is this migration even plausibly compatible"
    * check. In-family changes (INT→BIGINT, VARCHAR(64)→VARCHAR(512))
    * stay the remote database's business; a cross-family change
    * (int→string) has no safe streaming interpretation. */
  private[graft] def typeFamily(t: Int): String = {
    import java.sql.Types._
    t match {
      case TINYINT | SMALLINT | INTEGER | BIGINT | REAL | FLOAT | DOUBLE |
           NUMERIC | DECIMAL => "numeric"
      case CHAR | VARCHAR | LONGVARCHAR | NCHAR | NVARCHAR | LONGNVARCHAR |
           CLOB | NCLOB => "character"
      case DATE => "date"
      case TIME | TIMESTAMP | TIME_WITH_TIMEZONE | TIMESTAMP_WITH_TIMEZONE => "timestamp"
      case BOOLEAN | BIT => "boolean"
      case _ => "other"
    }
  }

  private[graft] def typeFamily(dt: DataType): String = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         _: DecimalType => "numeric"
    case StringType => "character"
    case DateType => "date"
    case TimestampType => "timestamp"
    case BooleanType => "boolean"
    case _ => "other"
  }

  /** Apply a reduced CDC change set to a JDBC table as an idempotent
    * per-key MERGE: every touched key is DELETEd, then every non-'D'
    * row re-INSERTed with its new image — one transaction per
    * partition, executor-side (the driver never sees a row; contrast
    * the reference's driver-array apply,
    * `/root/reference/src/database/postgresql/PostgresOperation.ts:69-86`).
    * Delete+reinsert is the dialect-portable upsert: no MERGE/ON
    * CONFLICT syntax dependence, and replaying the SAME change set —
    * the at-least-once case — lands the same final rows, so a batch
    * whose checkpoint commit was lost re-applies as a no-op.
    *
    * Precondition: one row per `keyCol` (a reduced micro-batch — what
    * [[graft.streaming.Streams.materializeCdcJdbc]] feeds). Atomicity
    * is per partition ([[perPartition]]), the same
    * exactly-once-equivalence contract as the parquet swap path; the
    * reduced set is shuffle-partitioned by key. */
  def applyChanges(changes: DataFrame, url: String, table: String,
      keyCol: String, opCol: String, props: Map[String, String] = Map.empty): Unit = {
    val schema = changes.schema
    val payload = schema.fields.filterNot(_.name.equalsIgnoreCase(opCol))
    val keyIdx = fieldIdx(schema, keyCol, "key")
    val opIdx = fieldIdx(schema, opCol, "op")
    val insertSql = s"INSERT INTO $table (${payload.map(f => quoted(f.name)).mkString(", ")}) " +
      s"VALUES (${payload.map(_ => "?").mkString(", ")})"
    val deleteSql = s"DELETE FROM $table WHERE ${quoted(schema.fields(keyIdx).name)} = ?"
    val keyType = schema.fields(keyIdx).dataType
    val slots = slotsOf(schema, payload)
    perPartition(changes, url, props) { (c, it) =>
      val del = c.prepareStatement(deleteSql)
      val ins = c.prepareStatement(insertSql)
      try {
        // bounded row batches (keys are unique within a reduced batch,
        // so each chunk's deletes can run ahead of its inserts and
        // chunk order is immaterial); one commit per partition either way
        it.grouped(statementBatch).foreach { chunk =>
          var nIns = 0
          chunk.foreach { row =>
            setParam(del, 1, keyType, row, keyIdx)
            del.addBatch()
            if (row.getString(opIdx) != "D") {
              bind(ins, slots, row)
              ins.addBatch(); nIns += 1
            }
          }
          del.executeBatch()
          if (nIns > 0) ins.executeBatch()
        }
      } finally { del.close(); ins.close() }
    }
  }

  /** SCD2 (type-2) history apply for ORDERED transports — the JDBC
    * landing of [[graft.streaming.Streams.materializeScd2]]'s
    * contract. Per key, the fresh events are those PAST the key's
    * stored high-water mark (max valid_from/valid_to already in the
    * table — a delete's LSN lives on as a valid_to, exactly as in the
    * parquet state), and they collapse to:
    *  - one probe: the high-water `SELECT`, once per key;
    *  - one close: `UPDATE … SET valid_to, is_current = 0 WHERE
    *    is_current = 1` at the first fresh event's valid_from;
    *  - one INSERT per fresh non-delete event, its interval already
    *    known: valid_to is the next fresh event's valid_from with
    *    `is_current = 0`, the key's last one lands open (`NULL, 1`).
    *    A delete inserts nothing.
    * That is [[graft.cdc.Envelope.scd2Fold]]'s interval rule, so the
    * rows are exactly those of closing and inserting event by event.
    * Closes and inserts are JDBC statement batches, flushed at a key
    * boundary after at most [[statementBatch]] keys: all closes, then
    * all inserts (keys are unique per partition, so no close reaches
    * a pending insert). Closed history rows are append-only — only the
    * stored open row ever updates, the warehouse-friendly write shape.
    *
    * Replay is a no-op row-for-row: a replayed event's valid_from is
    * ≤ the key's high water and is screened out, so at-least-once
    * delivery + this apply = exactly-once-equivalent history, the
    * [[applyChanges]] contract. Atomicity is per partition
    * ([[perPartition]]); the input must be repartitioned by key and
    * sorted by (key, valid_from) so one key's events apply in LSN order
    * ([[graft.streaming.Streams.materializeScd2Jdbc]] guarantees
    * both). On a history the engine created ([[ensureScd2TableOn]])
    * the probe and the close are lookups on its `<table>_graft_key`
    * index; without an index on the key each one scans the table. */
  def applyScd2(events: DataFrame, url: String, table: String,
      keyCol: String, tagCol: String, props: Map[String, String] = Map.empty): Unit = {
    val schema = events.schema
    val keyIdx = fieldIdx(schema, keyCol, "key")
    val tagIdx = fieldIdx(schema, tagCol, "tag")
    val vfIdx = fieldIdx(schema, "valid_from", "valid_from")
    val keyName = schema.fields(keyIdx).name
    val keyType = schema.fields(keyIdx).dataType
    val payload = schema.fields.filterNot(_.name.equalsIgnoreCase(tagCol))
    val insertSql = s"INSERT INTO $table (" +
      (payload.map(f => quoted(f.name)) ++ Seq(quoted("valid_to"), quoted("is_current")))
        .mkString(", ") +
      s") VALUES (${payload.map(_ => "?").mkString(", ")}, ?, ?)"
    val vtPos = payload.length + 1
    val closeSql = s"UPDATE $table SET ${quoted("valid_to")} = ?, ${quoted("is_current")} = 0 " +
      s"WHERE ${quoted(keyName)} = ? AND ${quoted("is_current")} = 1"
    val hwmSql = s"SELECT MAX(${quoted("valid_from")}), MAX(${quoted("valid_to")}) " +
      s"FROM $table WHERE ${quoted(keyName)} = ?"
    val slots = slotsOf(schema, payload)
    perPartition(events, url, props) { (c, it) =>
      val hwmSt = c.prepareStatement(hwmSql)
      val close = c.prepareStatement(closeSql)
      val ins = c.prepareStatement(insertSql)
      try {
        var curKey: Any = null
        var haveKey = false
        var hwm = Long.MinValue
        var closed = false // the key's one close is queued
        // the key's latest fresh non-delete event: its INSERT waits
        // until the next fresh event (or the key's end) fixes valid_to
        var pending: Row = null
        var keys = 0; var nClose = 0; var nIns = 0
        def insert(validTo: Option[Long]): Unit = if (pending != null) {
          bind(ins, slots, pending)
          validTo match {
            case Some(vt) => ins.setLong(vtPos, vt); ins.setInt(vtPos + 1, 0)
            case None => ins.setNull(vtPos, sqlType(LongType)); ins.setInt(vtPos + 1, 1)
          }
          ins.addBatch(); nIns += 1
          pending = null
        }
        def flush(): Unit = {
          if (nClose > 0) close.executeBatch()
          if (nIns > 0) ins.executeBatch()
          keys = 0; nClose = 0; nIns = 0
        }
        // the per-key hwm cache is only sound on key-clustered,
        // (key, valid_from)-sorted input; this is public API, so a
        // mis-partitioned caller must fail LOUDLY, not silently
        // write duplicate open rows. Re-appearing key → cluster
        // violated; decreasing valid_from → sort violated. Equal
        // valid_from stays legal: distinct events never share an
        // LSN, so an adjacent duplicate is the same event twice and
        // the hwm screen below already no-ops it.
        val seenKeys = new scala.collection.mutable.HashSet[Any]
        var prevVf = Long.MinValue
        it.foreach { row =>
          val k = row.get(keyIdx)
          if (!haveKey || k != curKey) {
            require(seenKeys.add(k),
              s"[graft] applyScd2 input is not key-clustered: key '$k' re-appears " +
                s"after its cluster ended — repartition by '$keyName' and " +
                "sortWithinPartitions(key, valid_from) before calling")
            insert(None) // the previous key's last row stays open
            if (keys == statementBatch) flush()
            keys += 1
            curKey = k; haveKey = true; prevVf = Long.MinValue; closed = false
            setParam(hwmSt, 1, keyType, row, keyIdx)
            val rs = hwmSt.executeQuery()
            hwm = Long.MinValue
            if (rs.next()) {
              val a = rs.getLong(1); if (!rs.wasNull() && a > hwm) hwm = a
              val b = rs.getLong(2); if (!rs.wasNull() && b > hwm) hwm = b
            }
            rs.close()
          }
          val vf = row.getLong(vfIdx)
          require(vf >= prevVf,
            s"[graft] applyScd2 input is not sorted by (key, valid_from): key '$k' " +
              s"delivered valid_from=$vf after $prevVf")
          prevVf = vf
          if (vf > hwm) { // the high-water replay screen
            hwm = vf
            if (!closed) {
              close.setLong(1, vf)
              setParam(close, 2, keyType, row, keyIdx)
              close.addBatch(); nClose += 1
              closed = true
            }
            insert(Some(vf)) // this event closes the one before it
            if (row.getString(tagIdx) != "delete") pending = row
          }
        }
        insert(None)
        flush()
      } finally { hwmSt.close(); close.close(); ins.close() }
    }
  }

  /** Key-replacement write for the UNORDERED SCD2 sink
    * ([[graft.streaming.Streams.materializeScd2Jdbc]] with
    * `orderedTransport = false`): each touched key's WHOLE rebuilt
    * interval set replaces its stored rows — per partition, one
    * transaction ([[perPartition]]): DELETE the key's rows, then INSERT
    * the rebuilt set, as statement batches flushed every ≤ [[statementBatch]] key
    * clusters (all deletes, then all inserts — keys are unique per
    * partition). Input must be repartitioned by key (one key never
    * spans two transactions) and key-clustered; a violating caller
    * fails loudly ([[applyScd2]]'s discipline).
    * Idempotent under replay: the rebuild regenerates the identical
    * interval set from the table's own rows, so delete+insert re-lands
    * the same rows. Each delete is a lookup on the `<table>_graft_key`
    * index of a history the engine created ([[ensureScd2TableOn]]). */
  def replaceScd2Keys(rows: DataFrame, url: String, table: String,
      keyCol: String, props: Map[String, String] = Map.empty): Unit = {
    val schema = rows.schema
    val keyIdx = fieldIdx(schema, keyCol, "key")
    val keyName = schema.fields(keyIdx).name
    val keyType = schema.fields(keyIdx).dataType
    val cols = schema.fields
    val insertSql = s"INSERT INTO $table (${cols.map(f => quoted(f.name)).mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"
    val deleteSql = s"DELETE FROM $table WHERE ${quoted(keyName)} = ?"
    val slots = slotsOf(schema, cols)
    perPartition(rows, url, props) { (c, it) =>
      val del = c.prepareStatement(deleteSql)
      val ins = c.prepareStatement(insertSql)
      try {
        var curKey: Any = null
        var haveKey = false
        var keys = 0 // every queued key has ≥ 1 queued insert
        def flush(): Unit = if (keys > 0) {
          del.executeBatch(); ins.executeBatch(); keys = 0
        }
        val seenKeys = new scala.collection.mutable.HashSet[Any]
        it.foreach { row =>
          val k = row.get(keyIdx)
          if (!haveKey || k != curKey) {
            require(seenKeys.add(k),
              s"[graft] replaceScd2Keys input is not key-clustered: key '$k' re-appears " +
                s"after its cluster ended — repartition by '$keyName' before calling")
            if (keys == statementBatch) flush()
            keys += 1
            curKey = k; haveKey = true
            setParam(del, 1, keyType, row, keyIdx)
            del.addBatch()
          }
          bind(ins, slots, row)
          ins.addBatch()
        }
        flush()
      } finally { del.close(); ins.close() }
    }
  }

  // ---- SCD2 history compaction (JDBC twin) ------------------------------

  private def horizonTable(table: String) = s"${table}_graft_horizon"

  /** The compaction horizon recorded for a JDBC SCD2 history, if any. */
  def scd2HorizonJdbc(url: String, table: String,
      props: Map[String, String] = Map.empty): Option[Long] =
    withConnection(url, props) { c =>
      if (probeTable(c, horizonTable(table)).stored.isEmpty) None
      else query(c, s"SELECT ${quoted("hz")} FROM ${horizonTable(table)}") { rs =>
        if (rs.next()) Some(rs.getLong(1)) else None
      }
    }

  /** [[graft.streaming.Streams.compactScd2]]'s JDBC twin — the type-2
    * retention dial for the [[applyScd2]]/[[replaceScd2Keys]] history
    * tables: DELETE every interval with `valid_to ≤ horizon` (fully
    * below any `as-of ≥ horizon` read), with the horizon recorded in a
    * one-row sidecar table `<table>_graft_horizon` that
    * [[scd2AsOfJdbc]] enforces. Marker commits FIRST in its own
    * [[transaction]], then the DELETE in a second — a crash between marker and DELETE over-refuses
    * (reads below the marker fail although rows still exist), never
    * under-refuses. The horizon only advances. Same caller contract as
    * the parquet dial: compact only below any LSN the transport can
    * still deliver or replay. */
  def compactScd2Table(url: String, table: String, horizon: Long,
      props: Map[String, String] = Map.empty): Unit = {
    scd2HorizonJdbc(url, table, props).foreach(h => require(horizon >= h,
      s"[graft] compaction horizon can only advance: stored $h, asked $horizon — " +
        "history below the stored horizon is already gone"))
    withConnection(url, props) { c =>
      val ht = horizonTable(table)
      transaction(c) {
        if (probeTable(c, ht).stored.isEmpty)
          update(c, s"CREATE TABLE $ht (${quoted("hz")} BIGINT NOT NULL)")
        if (update(c, s"UPDATE $ht SET ${quoted("hz")} = $horizon") == 0)
          update(c, s"INSERT INTO $ht VALUES ($horizon)")
      }
      transaction(c)(update(c, s"DELETE FROM $table WHERE ${quoted("valid_to")} IS NOT NULL " +
        s"AND ${quoted("valid_to")} <= $horizon"))
    }
  }

  /** Point-in-time read over a (possibly compacted) JDBC SCD2 history —
    * [[graft.cdc.Envelope.scd2AsOf]] plus the horizon refusal: reading
    * AS OF an LSN below the compacted horizon would return a silently
    * partial table. */
  def scd2AsOfJdbc(spark: SparkSession, url: String, table: String, lsn: Long,
      props: Map[String, String] = Map.empty): org.apache.spark.sql.DataFrame = {
    scd2HorizonJdbc(url, table, props).foreach(h => require(lsn >= h,
      s"[graft] as-of $lsn reads below the compacted horizon $h of $table — " +
        "that history was dropped by compaction; refuse instead of returning a partial table"))
    graft.cdc.Envelope.scd2AsOf(snapshot(spark, url, table, props), lsn)
  }

  /** Version-guarded (CAS) apply for OUT-OF-ORDER transports — the
    * JDBC rendering of [[graft.ops.Merge.upsertVersioned]]'s contract:
    * a row wins only with a strictly higher `versionCol`, equal or
    * lower keeps the stored row, unseen keys insert. Deletes are
    * TOMBSTONE rows (`opCol`='D') kept in the table so a late older
    * update cannot resurrect a deleted key — read live rows with
    * `WHERE op <> 'D'`. Per partition ([[perPartition]]; keys are
    * unique in a reduced batch) and per key:
    *
    *  1. batched `UPDATE … WHERE key = ? AND version < ?` — the CAS;
    *     the returned update counts say which rows matched nothing;
    *  2. for those, batched `INSERT … WHERE NOT EXISTS(key)` — inserts
    *     genuinely-new keys, and is a guarded no-op for keys that
    *     exist with a newer-or-equal version (the lost-CAS case), so
    *     replaying a batch is idempotent with no exception juggling.
    *
    * Version comparison happens in the DATABASE's `<` — for string
    * versions (LSNs) that is codepoint order, matching Spark's string
    * `>` only for fixed-width encodings (the engine's fixed-width hex
    * LSNs; a numeric version column is ordering-safe everywhere). */
  def applyChangesVersioned(changes: DataFrame, url: String, table: String,
      keyCol: String, versionCol: String, opCol: String,
      props: Map[String, String] = Map.empty): Unit = {
    val schema = changes.schema
    val keyIdx = fieldIdx(schema, keyCol, "key")
    val verIdx = fieldIdx(schema, versionCol, "version")
    fieldIdx(schema, opCol, "op") // presence check; tombstones are stored, not filtered
    val keyName = schema.fields(keyIdx).name
    val nonKey = schema.fields.filterNot(_.name.equalsIgnoreCase(keyCol))
    val updateSql = s"UPDATE $table SET " +
      nonKey.map(f => s"${quoted(f.name)} = ?").mkString(", ") +
      s" WHERE ${quoted(keyName)} = ? AND ${quoted(schema.fields(verIdx).name)} < ?"
    // the single-row FROM source for the guarded SELECT: the SQL
    // standard's `(VALUES 1)` derived table works on Derby/Postgres/
    // H2/SQL Server, but Oracle has no VALUES-in-FROM (needs DUAL) and
    // MySQL requires DUAL for SELECT..WHERE — the very drivers whose
    // SUCCESS_NO_INFO batch counts this fallback exists to serve, so
    // pick the dual form from the JDBC URL instead of failing their
    // first new-key batch on a syntax error
    val oneRowFrom = url.toLowerCase(java.util.Locale.ROOT) match {
      case u if u.startsWith("jdbc:oracle") => "FROM dual"
      case u if u.startsWith("jdbc:mysql") || u.startsWith("jdbc:mariadb") => "FROM DUAL"
      case _ => "FROM (VALUES 1) AS v(x)"
    }
    val insertSql = s"INSERT INTO $table (${schema.fields.map(f => quoted(f.name)).mkString(", ")}) " +
      s"SELECT ${schema.fields.map(_ => "?").mkString(", ")} $oneRowFrom " +
      s"WHERE NOT EXISTS (SELECT 1 FROM $table WHERE ${quoted(keyName)} = ?)"
    val updSlots = slotsOf(schema, nonKey)
    val insSlots = slotsOf(schema, schema.fields)
    val keyType = schema.fields(keyIdx).dataType
    val verType = schema.fields(verIdx).dataType
    perPartition(changes, url, props) { (c, it) =>
      val upd = c.prepareStatement(updateSql)
      val ins = c.prepareStatement(insertSql)
      try {
        // bounded row batches: the update-count ↔ row correlation only
        // needs one chunk in memory, not the whole partition
        it.grouped(statementBatch).foreach { chunk =>
          chunk.foreach { row =>
            bind(upd, updSlots, row)
            setParam(upd, updSlots.length + 1, keyType, row, keyIdx)
            setParam(upd, updSlots.length + 2, verType, row, verIdx)
            upd.addBatch()
          }
          val counts = upd.executeBatch()
          var nIns = 0
          chunk.indices.filter(i => needsInsertAttempt(counts(i))).foreach { i =>
            val row = chunk(i)
            bind(ins, insSlots, row)
            setParam(ins, insSlots.length + 1, keyType, row, keyIdx)
            ins.addBatch(); nIns += 1
          }
          if (nIns > 0) ins.executeBatch()
        }
      } finally { upd.close(); ins.close() }
    }
  }

  /** A batched CAS UPDATE row takes the guarded-INSERT fallback when
    * its update count is 0 (matched nothing: new key, or lost the CAS
    * to a newer version) — or when the driver reports
    * `Statement.SUCCESS_NO_INFO` (-2) for the batch (Oracle always;
    * PostgreSQL with reWriteBatchedInserts), which says nothing about
    * per-row counts: without this, `== 0` never matches and genuinely
    * new keys are silently never inserted. The INSERT is
    * NOT EXISTS-guarded, so attempting it for a row the UPDATE did hit
    * is a no-op, never a duplicate. */
  private[graft] def needsInsertAttempt(count: Int): Boolean =
    count == 0 || count == java.sql.Statement.SUCCESS_NO_INFO

  /** Backfill NULL arrival-batch stamps with the current batch id —
    * rows from a PRE-UPGRADE CAS table (created before the stamp
    * column existed; [[ensureTable]] widens it in, null-valued) age
    * from the upgrade batch instead of never aging, mirroring the
    * parquet state's backfill. One driver-side statement; a replayed
    * batch recomputes the same id → idempotent. */
  def backfillNullStamps(url: String, table: String, stampCol: String,
      batchId: Long, props: Map[String, String] = Map.empty): Unit =
    withConnection(url, props) { c =>
      val st = c.prepareStatement(
        s"UPDATE $table SET ${quoted(stampCol)} = ? WHERE ${quoted(stampCol)} IS NULL")
      try { st.setLong(1, batchId); st.executeUpdate() } finally st.close()
    }

  /** Tombstone GC for CAS-mode tables ([[applyChangesVersioned]]):
    * delete tombstone rows whose arrival-batch stamp predates the
    * horizon. One driver-side statement; the caller passes the cutoff
    * already computed (currentBatch − retention), so a replayed batch
    * issues the identical DELETE — idempotent like the apply. */
  def deleteExpiredTombstones(url: String, table: String, opCol: String,
      batchStampCol: String, olderThan: Long,
      props: Map[String, String] = Map.empty): Unit =
    withConnection(url, props) { c =>
      val st = c.prepareStatement(
        s"DELETE FROM $table WHERE ${quoted(opCol)} = 'D' AND ${quoted(batchStampCol)} < ?")
      try { st.setLong(1, olderThan); st.executeUpdate() } finally st.close()
    }

  private def setParam(ps: java.sql.PreparedStatement, pos: Int,
      dt: DataType, row: Row, idx: Int): Unit =
    if (row.isNullAt(idx)) ps.setNull(pos, sqlType(dt))
    else dt match {
      case LongType => ps.setLong(pos, row.getLong(idx))
      case IntegerType => ps.setInt(pos, row.getInt(idx))
      case ShortType => ps.setShort(pos, row.getShort(idx))
      case ByteType => ps.setByte(pos, row.getByte(idx))
      case StringType => ps.setString(pos, row.getString(idx))
      // rows carry java.sql or java.time externals depending on
      // spark.sql.datetime.java8API.enabled — accept both
      case DateType => row.get(idx) match {
        case d: java.sql.Date => ps.setDate(pos, d)
        case d: java.time.LocalDate => ps.setDate(pos, java.sql.Date.valueOf(d))
      }
      case TimestampType => row.get(idx) match {
        case t: java.sql.Timestamp => ps.setTimestamp(pos, t)
        case t: java.time.Instant => ps.setTimestamp(pos, java.sql.Timestamp.from(t))
      }
      case DoubleType => ps.setDouble(pos, row.getDouble(idx))
      case FloatType => ps.setFloat(pos, row.getFloat(idx))
      case BooleanType => ps.setBoolean(pos, row.getBoolean(idx))
      case _: DecimalType => ps.setBigDecimal(pos, row.getDecimal(idx))
      case other => throw new IllegalArgumentException(
        s"[graft] no JDBC setter for $other — cast the column first")
    }
}
