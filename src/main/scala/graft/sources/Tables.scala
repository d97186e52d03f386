package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Batch table loaders over the harness parquet layout (TESTDATA.md).
  *
  * Mirrors the reference's batch snapshot scan
  * (`/root/reference/src/database/postgresql/PostgresOperation.ts:69-86`,
  * a full-table `SELECT * FROM students`) re-expressed as a parquet
  * `spark.read` so Catalyst column pruning / predicate pushdown apply —
  * the reference ships every column and filters in-process; we let the
  * scan do it.
  *
  * Scale note: all loaders return a lazy DataFrame over the parquet
  * footer schema — no driver-side materialization. On a real cluster the
  * same call reads a partitioned directory; nothing here assumes
  * single-file input.
  *
  * Per-read cost: every loader goes through [[readParquet]]: Spark's
  * listing of the path, plus the directories down to the first data
  * file and ONE footer read on the driver — no Spark job. A bare
  * `spark.read.parquet(path)` costs the listing plus a one-task
  * schema-inference job (`mergeSchemasInParallel`), even for one file.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The small dimension tables worth a broadcast hint at any scale. */
  val broadcastable: Set[String] = Set("region", "nation", "supplier")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    readParquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` without its schema-inference job. With
    * `mergeSchema` off, Spark infers a parquet schema from ONE footer —
    * the first data file by path — but reads it in a one-task job. This
    * reads that same footer on the driver and converts it exactly as
    * the job does (the row-metadata JSON Spark writes, else the parquet
    * type conversion under the session's conf), then hands the schema
    * to the reader. Partition columns are still discovered from the
    * directory names, and the relation's data schema is made nullable
    * either way, so the DataFrame is the one inference would give.
    *
    * Falls back to plain inference when there is no visible data file,
    * when a summary file (`_metadata`, `_common_metadata`) would take
    * precedence, when the session merges schemas, when `path` is a
    * file-sink output (its `_spark_metadata` log lists the files), or
    * when the footer cannot be read (Spark then raises its own error).
    * A footer type Spark refuses (PARQUET_TYPE_ILLEGAL) is rethrown as
    * is: callers key on that condition (see [[loadEventsRaw]]). */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None         => spark.read.parquet(path)
    }

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) return None
    val hadoopConf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val source =
      try {
        val fs = root.getFileSystem(hadoopConf)
        val st = fs.getFileStatus(root)
        // a file-sink output is read through its log, not a listing
        if (st.isDirectory && fs.exists(new Path(root, "_spark_metadata"))) None
        else schemaSource(fs, st)
      } catch { case _: java.io.IOException => None }
    source.filterNot(f => isSummary(f.getPath.getName)).flatMap { first =>
      try {
        val meta = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(first, hadoopConf), SKIP_ROW_GROUPS)
        // the converter Spark's inference job builds: these five confs,
        // the constructor's defaults for the rest
        val converter = new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = conf.isParquetBinaryAsString,
          assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
          inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
          nanosAsLong = conf.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
        Some(ParquetFileFormat.readSchemaFromFooter(new Footer(first.getPath, meta), converter))
      } catch {
        case e: Exception if parquetTypeCondition(e).isEmpty => None
      }
    }
  }

  private def isSummary(name: String): Boolean =
    name == ParquetFileWriter.PARQUET_METADATA_FILE ||
      name == ParquetFileWriter.PARQUET_COMMON_METADATA_FILE

  /** The file whose footer inference reads under `st`: a summary file
    * in a listed directory, else the first data file in full-path
    * order. Lists only the directories on the way to it, entering
    * partition directories (`k=v`) only. Names Spark's file index hides
    * are skipped: `_*` and `.*`, bar summary files, and `*._COPYING_`. */
  private def schemaSource(fs: FileSystem, st: FileStatus): Option[FileStatus] =
    if (st.isFile) Some(st)
    else {
      val children = fs.listStatus(st.getPath).filter { c =>
        val n = c.getPath.getName
        val hidden = (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
          n.endsWith("._COPYING_")
        val shown = !hidden || n.startsWith(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE) ||
          n.startsWith(ParquetFileWriter.PARQUET_METADATA_FILE)
        shown && (c.isFile || n.contains("="))
      }
      children.find(c => c.isFile && isSummary(c.getPath.getName)).orElse(
        // a directory's files sort as `name/...`: full-path order
        children.sortBy(c => c.getPath.getName + (if (c.isDirectory) "/" else ""))
          .iterator.flatMap(schemaSource(fs, _)).nextOption())
    }

  /** The one loader dispatch: routes tables that need adaptive
    * handling (`events`) through their dedicated loader, everything
    * else through the plain scan. Every generic by-name load path
    * (SQL view registration, bench warmup, schema pins) goes through
    * here so the next table that grows a vintage can't be missed in a
    * hand-rolled `if` at some call site. */
  def loadAny(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir) else load(spark, dir, name)

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** `events.ts` has shipped in two parquet vintages, so this loader is
    * schema-adaptive (the r14 harness regen flipped the encoding under
    * us and killed 21/75 oracle queries — never assume one vintage):
    *
    *  - TIMESTAMP(NANOS): Spark 4 rejects it at schema inference
    *    (PARQUET_TYPE_ILLEGAL) unless `legacy.parquet.nanosAsLong`
    *    reads it as raw INT64; we then truncate to µs with integer
    *    `div` (epoch nanos ≈ 1.7e18 exceeds double's 53-bit mantissa)
    *    — the same truncation DuckDB applies (its TIMESTAMP is µs),
    *    keeping oracle parity (SURVEY §7.4 trap 2).
    *  - TIMESTAMP_MICROS isAdjustedToUTC=false: Spark 4 loads it
    *    natively as TIMESTAMP_NTZ; cast to session-TZ `timestamp`
    *    (all graft sessions pin UTC) so downstream schemas stay
    *    TimestampType and the instants match DuckDB's naive reading.
    *
    * The nanos conf is only set on the fallback path — and must stay
    * set for that session: parquet scans consult the SQL conf at
    * execution, not DataFrame construction, so a save/restore here
    * would break the lazy read. The native path never touches it. */
  def events(s: SparkSession, d: String): DataFrame =
    adaptEventsTs(loadEventsRaw(s, s"$d/events.parquet"))

  /** Vintage-aware raw read of an events parquet path (batch). Sets the
    * legacy nanos conf ONLY when the footer demands it. */
  def loadEventsRaw(s: SparkSession, path: String): DataFrame =
    try readParquet(s, path)
    catch {
      case e: Exception if parquetTypeCondition(e).isDefined =>
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        readParquet(s, path)
    }

  /** The condition (Spark's stable error-class API, `SparkThrowable
    * .getCondition`) that marks a footer type Spark refuses to infer —
    * TIMESTAMP(NANOS) surfaces as PARQUET_TYPE_ILLEGAL. Keyed on the
    * condition name, NOT the rendered message: message text is
    * localized/reworded across releases, the condition is the contract
    * (SourcesSpec pins the name against the nanos fixture). Walks the
    * cause chain because the reader may wrap the typed error. */
  private[graft] def parquetTypeCondition(t: Throwable): Option[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collectFirst {
      case st: org.apache.spark.SparkThrowable
          if st.getCondition != null && st.getCondition.startsWith("PARQUET_TYPE") =>
        st.getCondition
    }

  /** Vintage-adaptive events FILE STREAM over a directory of events
    * parquet files. Streaming sources need an explicit schema, so the
    * raw (pre-adapt) schema is probed batch-side from the same files —
    * hard-coding either vintage here is exactly the r14 break, just on
    * the streaming path (the parity suites used to do it inline). */
  def eventsStream(s: SparkSession, dir: String): DataFrame = {
    val raw = loadEventsRaw(s, dir)
    adaptEventsTs(s.readStream.schema(raw.schema).parquet(dir))
  }

  /** Normalize a raw `ts` column of EITHER vintage to session-TZ
    * `timestamp`. Works on batch AND streaming frames (the streaming
    * parity suites feed it a `readStream` over the same files), so the
    * two paths can never disagree on what an event timestamp means. */
  def adaptEventsTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case TimestampType    => raw
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case other => throw new IllegalStateException(
        s"[graft] events.ts loaded as unsupported type $other — " +
          "expected TIMESTAMP, TIMESTAMP_NTZ (micros vintage) or INT64 (nanos vintage)")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Register every table as a temp view so `spark.sql` works as the
    * generic query front door (reference's `query` passthrough,
    * `/root/reference/src/database/postgresql/PostgresPg.ts:5-14`).
    * `events` goes through its ns-handling loader. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => loadAny(spark, dir, n).createOrReplaceTempView(n))
}
