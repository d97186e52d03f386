package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical-layout operators for the 100 TB path (SURVEY §4, charter
  * "partitioning & shuffle"). Nothing here changes query results —
  * only where rows live, which is what decides whether a 1000-executor
  * join shuffles 100 TB or nothing.
  */
object Layout {

  /** Write `df` as a bucketed + bucket-sorted table. Two tables
    * bucketed the same way (same cols, same count) equi-join and
    * aggregate on those cols with NO exchange on either side — the
    * shuffle is paid once at write time, then amortized over every
    * subsequent join (the fact-to-fact co-location strategy; dimension
    * tables should broadcast instead, `Tables.broadcastable`). */
  def bucketWrite(df: DataFrame, table: String, buckets: Int, cols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, cols.head, cols.tail: _*)
      .sortBy(cols.head, cols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Write `df` partitioned by low-cardinality columns so predicates on
    * them prune whole directories at plan time (partition pruning). */
  def partitionedWrite(df: DataFrame, path: String, cols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(cols: _*).parquet(path)

  /** Write `df` range-clustered on `cols`: repartitionByRange gives
    * each output file a disjoint key range, sortWithinPartitions orders
    * rows inside, so parquet min/max footer stats let a point or range
    * predicate skip every non-matching file AND every non-matching row
    * group inside the files it does read. The clustering complement to
    * [[partitionedWrite]] (directories) for high-cardinality columns
    * where one-directory-per-value would explode the namespace. */
  def clusteredWrite(df: DataFrame, path: String, cols: Seq[String],
      numFiles: Int = 0): Unit = {
    val ranged =
      if (numFiles > 0) df.repartitionByRange(numFiles, cols.map(col): _*)
      else df.repartitionByRange(cols.map(col): _*)
    ranged.sortWithinPartitions(cols.map(col): _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Bloom-pruned join: build a Bloom filter on the small side's keys
    * and filter the big side BEFORE its shuffle — the manual form of
    * runtime filtering (semi-join pushdown). With a selective small
    * side, the big side's exchange shrinks by the non-matching
    * fraction; false positives only cost wasted shuffle rows, never
    * wrong results (the join still applies the exact predicate).
    *
    * `expectedNumItems` sizes the filter without an extra counting job
    * — callers usually know the build side's cardinality (a dimension
    * table's row count, a filter's selectivity estimate); only when it
    * is unset does a fallback `count()` pay one extra pass. Oversizing
    * is cheap (bits are ~10/key at 3% fpp); undersizing only raises the
    * false-positive rate, never breaks correctness.
    *
    * Zero-code alternative: Spark's own runtime bloom filter
    * (`spark.sql.optimizer.runtime.bloomFilter.enabled`) injects the
    * same semi-join filter during optimization with a native
    * `might_contain` expression — prefer it when the plan shape
    * qualifies; this helper is for shapes the optimizer rule misses
    * (e.g. pruning before a custom operator, or a reused filter). */
  def bloomPrunedJoin(big: DataFrame, small: DataFrame, key: String,
      fpp: Double = 0.03, expectedNumItems: Long = -1L): DataFrame = {
    // the probe must hash the SAME representation the build side put:
    // stat.bloomFilter putLongs integral columns and putStrings string
    // columns, so a single Long-typed probe would silently hash string
    // keys wrong (numeric strings mismatch, others cast to null and
    // vanish) — "never wrong results" holds only if build and probe
    // agree per type. Refuse other types BEFORE spending the build
    // pass. Null keys drop before the join either way — the same rows
    // an inner join would discard.
    import org.apache.spark.sql.types._
    val keyType = big.select(col(key)).schema.head.dataType
    val supported = Set[DataType](ByteType, ShortType, IntegerType, LongType, StringType)
    if (!supported(keyType)) throw new IllegalArgumentException(
      s"[graft] bloomPrunedJoin key '$key' has type ${keyType.simpleString} — " +
        s"stat.bloomFilter supports integral and string keys only")
    val keys = small.select(col(key))
    val n = if (expectedNumItems > 0) expectedNumItems
            else math.max(keys.count(), 1L)
    val bf = keys.stat.bloomFilter(key, n, fpp)
    val mightContain = keyType match {
      case StringType => udf((k: String) => k != null && bf.mightContainString(k))
      case _ => udf((k: Long) => bf.mightContainLong(k)) // primitive arg: null-skipped
    }
    big.filter(mightContain(col(key))).join(small, key)
  }

  /** Z-order (Morton) clustered write: interleave the bits of two
    * integer key columns and range-cluster on the result, so parquet
    * min/max footer stats skip files for predicates on EITHER column —
    * single-column clustering ([[clusteredWrite]]) only serves its own
    * column. Keys are clamped to 31 bits each (non-negative), so the
    * interleave is 62 bits and stays in a positive long; columns with
    * a wider domain should be bucketized first (the standard Z-order
    * recipe). The payload is written unchanged — only placement moves. */
  def zorderWrite(df: DataFrame, path: String, colA: String, colB: String,
      numFiles: Int): Unit = {
    require(!df.columns.exists(_.equalsIgnoreCase("__z")),
      "[graft] column name '__z' is reserved by zorderWrite — rename it on the input")
    val z = zorderCol(col(colA), col(colB))
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Morton interleave of two non-negative ints (31 bits each) as a
    * codegen-friendly closed-form column expression. An out-of-range
    * key (negative, or ≥ 2^31) fails LOUDLY instead of masking: the
    * old `& 0x7FFFFFFF` silently aliased -1 onto the largest key and
    * wrapped wide domains onto small ones — footer min/max ranges went
    * maximally wide and the claimed file-skipping quietly died. Keys
    * with a wider domain should be bucketized first (the standard
    * Z-order recipe); NULL keys pass through as a NULL z-value. */
  def zorderCol(a: Column, b: Column): Column = {
    def checked(c: Column): Column = {
      val x = c.cast("long")
      when(x.isNull || (x >= 0L && x <= 0x7FFFFFFFL), x)
        .otherwise(raise_error(concat(
          lit("[graft] zorderCol key out of the non-negative 31-bit domain: "),
          x.cast("string"),
          lit(" — bucketize wider domains before z-ordering"))).cast("long"))
    }
    // spread bits to even positions: the classic 2D mask-shift cascade
    def spread(c: Column): Column = {
      var x = checked(c).bitwiseAND(lit(0x7FFFFFFFL))
      x = x.bitwiseOR(shiftleft(x, 16)).bitwiseAND(lit(0x0000FFFF0000FFFFL))
      x = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FF00FF00FFL))
      x = x.bitwiseOR(shiftleft(x, 4)).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
      x = x.bitwiseOR(shiftleft(x, 2)).bitwiseAND(lit(0x3333333333333333L))
      x.bitwiseOR(shiftleft(x, 1)).bitwiseAND(lit(0x5555555555555555L))
    }
    spread(a).bitwiseOR(shiftleft(spread(b), 1))
  }

  /** Compact a directory of small files (the streaming-sink residue
    * problem: every micro-batch writes a file per partition, and a
    * 100 TB table of kilobyte files destroys scan throughput and
    * driver/namenode metadata). Rewrites `path` into
    * ceil(bytes / targetFileBytes) files into `out`. Coalesce, not
    * repartition: merging files needs no shuffle. Sizes come from the
    * Hadoop FileSystem for `path`'s scheme, so hdfs://, s3a:// and
    * local paths all work. */
  def compactSmallFiles(spark: org.apache.spark.sql.SparkSession, path: String,
      out: String, targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statuses = fs.listStatus(p)
    // a PARTITIONED directory (date=.../part-*.parquet) has no parquet
    // files at the top level: the old non-recursive size scan summed 0
    // bytes and funneled the whole table through coalesce(1), silently
    // discarding the partition layout besides. Refuse — compaction of
    // a partitioned table is per-partition-directory by design.
    // (_spark_metadata / dot-dirs are sink bookkeeping, not partitions.)
    val partitionDirs = statuses.filter(s => s.isDirectory &&
      !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
    require(partitionDirs.isEmpty,
      s"[graft] compactSmallFiles: $path contains partition subdirectories " +
        partitionDirs.take(3).map(_.getPath.getName).mkString("'", "', '", "'") +
        " — compact each partition directory separately; a flat rewrite would " +
        "discard the partition layout")
    val bytes = statuses
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    val files = math.max(1, ((bytes + targetFileBytes - 1) / targetFileBytes).toInt)
    graft.sources.Tables.readParquet(spark, path).coalesce(files)
      .write.mode("overwrite").parquet(out)
  }

  /** Salted equi-join for skewed build keys. AQE's skew-join split
    * already handles sort-merge skew at runtime; this is the manual
    * pattern for plans AQE can't reach (e.g. skewed stream-static or
    * agg-under-join shapes). The probe (`left`, large/skewed) side gets
    * a deterministic salt from `distinctOn` (row-content hash, so
    * re-runs produce identical partitioning); the build (`right`) side
    * is exploded `factor` ways — right-side rows are duplicated, so
    * keep `factor` × |right| small. Result is row-identical to the
    * unsalted inner join. */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      factor: Int, distinctOn: Column): DataFrame = {
    require(factor > 0, s"salt factor must be positive, got $factor")
    require(!(left.columns ++ right.columns).exists(_.equalsIgnoreCase("__salt")),
      "[graft] column name '__salt' is reserved by saltedJoin — rename it on the input")
    val l = left.withColumn("__salt", pmod(xxhash64(distinctOn), lit(factor)).cast("int"))
    val r = right.withColumn("__salt", explode(sequence(lit(0), lit(factor - 1))))
    l.join(r, keys :+ "__salt").drop("__salt")
  }
}
