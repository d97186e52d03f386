package graft

import java.sql.DriverManager
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import graft.sources.Jdbc

/** Exercises the JDBC source/sink (SURVEY B.1's "JDBC scan" row)
  * against EMBEDDED Derby — in-JVM, zero network, present on every
  * Spark classpath (it backs the Hive metastore). This is the real
  * `format("jdbc")` code path end-to-end: relation resolution, remote
  * schema read, filter/column pushdown into generated SQL, range-
  * partitioned parallel scans, and the batched-insert writer. Only the
  * URL differs from the Postgres production wiring.
  *
  * Derby folds unquoted identifiers to UPPERCASE; assertions
  * case-fold where it matters (Spark's default resolution is
  * case-insensitive anyway, mirroring the analyzer).
  */
class JdbcSpec extends SparkSuite {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graft_jdbc;create=true"

  private def withConn[T](f: java.sql.Connection => T): T = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  // the reference's students table, loaded once for the whole suite
  private lazy val seeded: Unit = withConn { c =>
    val st = c.createStatement()
    st.executeUpdate(
      """CREATE TABLE students (
        |  id BIGINT NOT NULL PRIMARY KEY,
        |  first_name VARCHAR(64),
        |  last_name VARCHAR(64),
        |  date_of_birth DATE,
        |  status_id INT)""".stripMargin)
    val ins = c.prepareStatement("INSERT INTO students VALUES (?, ?, ?, ?, ?)")
    (0 until 40).foreach { i =>
      ins.setLong(1, i.toLong)
      ins.setString(2, s"fn_$i")
      ins.setString(3, s"ln_${i % 7}")
      ins.setDate(4, java.sql.Date.valueOf(f"19${60 + i % 40}%02d-01-15"))
      ins.setInt(5, 1 + i % 2)
      ins.addBatch()
    }
    ins.executeBatch()
  }

  test("jdbc snapshot reads the remote table with its schema (A6 batch path)") {
    seeded
    val df = Jdbc.snapshot(spark, url, "students")
    assert(df.count() == 40)
    assert(df.columns.map(_.toLowerCase).toSet ==
      Set("id", "first_name", "last_name", "date_of_birth", "status_id"))
    val r = df.filter(col("id") === 7L).collect()
    assert(r.length == 1 && r.head.getString(1) == "fn_7")
  }

  test("filters and column pruning push into the remote SQL, not a post-scan filter") {
    seeded
    val df = Jdbc.snapshot(spark, url, "students")
      .filter(col("status_id") === 1)
      .select(col("id"), col("status_id"))
    val plan = df.queryExecution.executedPlan.toString
    // JDBCRelation advertises what it shipped remotely: the scan row
    // must carry the pushed predicate and only the two pruned columns
    assert(plan.contains("PushedFilters") && plan.contains("STATUS_ID"),
      s"status_id filter must reach the remote scan:\n$plan")
    assert(!plan.toLowerCase.contains("first_name"),
      s"pruned columns must not be fetched:\n$plan")
    assert(df.count() == 20)
  }

  test("range-partitioned snapshot runs N parallel range scans and loses no rows") {
    seeded
    val df = Jdbc.snapshotPartitioned(spark, url, "students",
      partitionColumn = "id", lowerBound = 0L, upperBound = 40L, numPartitions = 4)
    assert(df.rdd.getNumPartitions == 4, "one range predicate per partition")
    assert(df.count() == 40)
    // bounds shape splits, they don't filter: every id survives exactly once
    assert(df.select(col("id")).distinct().count() == 40)
    // deliberately stale bounds: rows outside [10, 20) land in the edge
    // partitions — skewed parallelism, full correctness
    val stale = Jdbc.snapshotPartitioned(spark, url, "students",
      partitionColumn = "id", lowerBound = 10L, upperBound = 20L, numPartitions = 3)
    assert(stale.count() == 40, "rows outside the bound estimate must still arrive")
  }

  test("jdbc write round-trips: append then overwrite, read back through the source") {
    seeded
    val out = Seq((100L, "w1", 5), (101L, "w2", 6)).toDF("id", "name", "v")
    Jdbc.write(out, url, "echo_sink", SaveMode.Append)
    assert(Jdbc.snapshot(spark, url, "echo_sink").count() == 2)
    Jdbc.write(out.withColumn("v", col("v") * 10), url, "echo_sink", SaveMode.Overwrite)
    val back = Jdbc.snapshot(spark, url, "echo_sink").orderBy("id").collect()
    assert(back.length == 2 && back.map(_.getInt(2)).toSeq == Seq(50, 60),
      "overwrite must replace, not accumulate")
  }

  test("materializeCdcJdbc closes the reference loop: CDC stream lands in a queryable table; a replayed batch is a no-op") {
    import java.nio.file.Files
    import graft.cdc.{Envelope, Fixture}
    import graft.streaming.Streams
    // own in-memory db: the suite db's tables stay untouched
    val sinkUrl = "jdbc:derby:memory:graft_cdc_sink;create=true"
    val in = Fixture.materializeChunks(4)
    val ckpt = Files.createTempDirectory("graft_jdbcmat_ckpt").toString
    Streams.materializeCdcJdbc(Streams.envelopeStream(spark, in), ckpt, sinkUrl, "students_live")
      .awaitTermination()
    // quiesce before reopening the same checkpoint (see StreamsExtraSpec)
    var waited = 0
    while (spark.streams.active.nonEmpty && waited < 10000) {
      Thread.sleep(100); waited += 100
    }
    def tableRows() = Jdbc.snapshot(spark, sinkUrl, "students_live")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getDate(3).toString, r.getInt(4))).toSeq.sorted
    val expected = Envelope.lastImageByKey(Envelope.project(
      spark.read.schema(Envelope.schema).json(in)))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getDate(3).toString, r.getInt(4))).toSeq.sorted
    assert(expected.nonEmpty && tableRows() == expected,
      "incrementally merged JDBC table must equal the last-image batch replay")
    // lose the newest checkpoint commit (crash after apply, before
    // commit): the replayed batch re-deletes and re-inserts the same
    // images — the table must come out byte-identical, no duplicates
    val commitsDir = new java.io.File(ckpt, "commits")
    val newest = commitsDir.listFiles().filterNot(_.getName.startsWith("."))
      .maxBy(_.getName.toLong)
    assert(newest.delete())
    new java.io.File(commitsDir, s".${newest.getName}.crc").delete()
    Streams.materializeCdcJdbc(Streams.envelopeStream(spark, in), ckpt, sinkUrl, "students_live")
      .awaitTermination()
    assert(tableRows() == expected,
      "replaying a batch whose commit was lost must be a no-op on the table")
  }

  test("materializeScd2Jdbc lands the type-2 history in a table equal to the q50 fold; lost-commit replay is a no-op") {
    import java.nio.file.Files
    import graft.cdc.{Envelope, Fixture}
    import graft.streaming.Streams
    // one input on each side of the driver-rows bound (threshold -1:
    // every batch persisted); both must equal the same fold
    for (threshold <- Seq(None, Some("-1"))) withBroadcastThreshold(threshold) {
      val sinkUrl = s"jdbc:derby:memory:graft_scd2_sink${threshold.fold("")(_ => "_m1")};create=true"
      val in = Fixture.materializeChunks(4)
      val ckpt = Files.createTempDirectory("graft_scd2jdbc_ckpt").toString
      Streams.materializeScd2Jdbc(Streams.envelopeStream(spark, in), ckpt, sinkUrl, "students_history")
        .awaitTermination()
      var waited = 0
      while (spark.streams.active.nonEmpty && waited < 10000) {
        Thread.sleep(100); waited += 100
      }
      def asTuples(df: org.apache.spark.sql.DataFrame) = df
        .select(col("id"), col("firstName"), col("lastName"),
          col("dateOfBirth").cast("string"), col("status"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
          r.getInt(4), r.getLong(5),
          if (r.isNullAt(6)) -1L else r.getLong(6),
          r.getInt(7)))
        .toSeq.sorted
      def tableRows() = asTuples(Jdbc.snapshot(spark, sinkUrl, "students_history"))
      val expected = asTuples(Envelope.scd2Fold(
        Envelope.project(spark.read.schema(Envelope.schema).json(in))
          .filter(col("tag").isin("insert", "update", "delete"))
          .withColumn("valid_from", Envelope.lsnNumeric(col("lsn")))
          .drop("lsn")))
      assert(expected.nonEmpty && tableRows() == expected,
        s"the incrementally landed JDBC history must equal the q50 batch fold (threshold $threshold)")
      // scd2AsOf works on the JDBC table unchanged: as-of max LSN ==
      // the live rows, i.e. the last-image fold
      val live = Envelope.scd2AsOf(Jdbc.snapshot(spark, sinkUrl, "students_history"), Long.MaxValue)
        .select(col("id")).collect().map(_.getLong(0)).toSet
      val lastImage = Envelope.lastImageByKey(Envelope.project(
        spark.read.schema(Envelope.schema).json(in)))
        .select(col("id")).collect().map(_.getLong(0)).toSet
      assert(live == lastImage, "as-of(max) over the JDBC history must equal the last-image fold")
      // crash after apply, before the checkpoint commit: the replayed
      // batch's events are all under the stored high-water marks — the
      // history must come out row-for-row identical, no duplicates
      val commitsDir = new java.io.File(ckpt, "commits")
      val newest = commitsDir.listFiles().filterNot(_.getName.startsWith("."))
        .maxBy(_.getName.toLong)
      assert(newest.delete())
      new java.io.File(commitsDir, s".${newest.getName}.crc").delete()
      Streams.materializeScd2Jdbc(Streams.envelopeStream(spark, in), ckpt, sinkUrl, "students_history")
        .awaitTermination()
      assert(tableRows() == expected,
        s"replaying a batch whose commit was lost must be a no-op on the history (threshold $threshold)")
    }
  }

  test("materializeScd2Jdbc: a busy batch runs 3 jobs; a history it creates gets a key index, a pre-existing one gets none and still lands the q50 fold") {
    import java.nio.file.Files
    import graft.cdc.{Envelope, Fixture}
    import graft.streaming.Streams
    val sinkUrl = "jdbc:derby:memory:graft_scd2_jobs;create=true"
    def quiesce(): Unit = {
      var waited = 0
      while (spark.streams.active.nonEmpty && waited < 10000) {
        Thread.sleep(100); waited += 100
      }
    }
    /** (index name, column) of every index whose first column is `key`. */
    def keyIndexes(table: String, key: String): Seq[(String, String)] = {
      val c = DriverManager.getConnection(sinkUrl)
      try {
        val rs = c.getMetaData.getIndexInfo(null, null, table, false, false)
        try Iterator.continually(rs).takeWhile(_.next())
          .filter(r => r.getShort("ORDINAL_POSITION") == 1 &&
            key.equalsIgnoreCase(r.getString("COLUMN_NAME")))
          .map(r => (r.getString("INDEX_NAME"), r.getString("COLUMN_NAME"))).toList
        finally rs.close()
      } finally c.close()
    }
    // the busy-batch pin on each side of the driver-rows bound: within
    // it the first job is the batch collect, over it (threshold -1) the
    // one-job guard's tally that fills the cache
    val inputs = Seq(
      (None, 3, "the batch collect"),
      (Some("-1"), 3, "the one-job guard"))
    for ((threshold, wantJobs, first) <- inputs) withBroadcastThreshold(threshold) {
      val table = s"students_hist_jobs${threshold.fold("")(_ => "_m1")}"
      val src = Files.createTempDirectory("graft_scd2jobs_in")
      val ckpt = Files.createTempDirectory("graft_scd2jobs_ckpt").toString
      val now = System.currentTimeMillis()
      def writeChunk(name: String, mtime: Long, lines: String*): Unit = {
        val f = src.resolve(name)
        Files.write(f, lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        f.toFile.setLastModified(mtime)
      }
      def student(lsn: String, tag: String, id: Long, fn: String) =
        s"""{"lsn": "$lsn", "tag": "$tag", "table": "students", "new": {"id": $id, "first_name": "$fn", "last_name": "ln$id", "date_of_birth": "1990-01-01", "status_id": 1}}"""
      def run() = Streams.materializeScd2Jdbc(Streams.envelopeStream(spark, src.toString),
        ckpt, sinkUrl, table).awaitTermination()
      writeChunk("chunk_0000.jsonl", now - 60000L,
        student("0/00000010", "insert", 1L, "one"), student("0/00000020", "insert", 2L, "two"),
        student("0/00000030", "insert", 3L, "three"))
      run(); quiesce()
      assert(keyIndexes(table.toUpperCase, "id") == Seq((s"${table.toUpperCase}_GRAFT_KEY", "id")),
        "the history the sink creates carries a non-unique index led by the key")
      // the busy batch: repeated updates of one key, a delete, an insert
      writeChunk("chunk_0001.jsonl", now - 30000L,
        student("0/00000040", "update", 1L, "uno"), student("0/00000050", "update", 1L, "eins"),
        s"""{"lsn": "0/00000060", "tag": "delete", "table": "students", "old": {"id": 2}}""",
        student("0/00000070", "insert", 4L, "four"))
      val jobs = jobsDuring { run(); quiesce() }
      assert(jobs == wantJobs,
        s"threshold $threshold: a busy SCD2 JDBC micro-batch ran $jobs jobs; $first plus the " +
          s"repartitioned apply (shuffle map, result) runs $wantJobs (an aggregating guard ran " +
          "3 jobs, for 5)")
      assert(Jdbc.snapshot(spark, sinkUrl, table)
        .filter(col("is_current") === 1).select("id", "firstName").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap ==
        Map(1L -> "eins", 3L -> "three", 4L -> "four"))
    }

    // a history created beforehand with no index (the DDL the sink
    // itself used before it indexed the key) stays as its owner made it
    val in = Fixture.materializeChunks(4)
    val events = Envelope.project(spark.read.schema(Envelope.schema).json(in))
      .filter(col("tag").isin("insert", "update", "delete"))
      .withColumn("valid_from", Envelope.lsnNumeric(col("lsn")))
      .drop("lsn")
    val histSchema = org.apache.spark.sql.types.StructType(
      events.drop("tag").schema.fields ++ Seq(
        org.apache.spark.sql.types.StructField("valid_to",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("is_current",
          org.apache.spark.sql.types.IntegerType, nullable = false)))
    Jdbc.ensureTable(sinkUrl, "students_hist_owned", histSchema, "")
    Streams.materializeScd2Jdbc(Streams.envelopeStream(spark, in),
      Files.createTempDirectory("graft_scd2owned_ckpt").toString, sinkUrl,
      "students_hist_owned").awaitTermination()
    quiesce()
    assert(keyIndexes("STUDENTS_HIST_OWNED", "id").isEmpty,
      "a pre-existing history gets no DDL from the sink")
    def asTuples(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id"), col("firstName"), col("lastName"),
        col("dateOfBirth").cast("string"), col("status"),
        col("valid_from"), col("valid_to"), col("is_current"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
        r.getInt(4), r.getLong(5), if (r.isNullAt(6)) -1L else r.getLong(6), r.getInt(7)))
      .toSeq.sorted
    val expected = asTuples(Envelope.scd2Fold(events))
    assert(expected.nonEmpty &&
      asTuples(Jdbc.snapshot(spark, sinkUrl, "students_hist_owned")) == expected,
      "the history landed into the pre-existing table must equal the q50 batch fold")
  }

  test("materializeScd2Jdbc orderedTransport=false: reverse delivery converges to the q50 fold; orphan deletes survive; redelivery is a no-op") {
    import java.nio.file.Files
    import graft.cdc.{Envelope, Fixture}
    import graft.streaming.Streams
    def quiesce(): Unit = {
      var waited = 0
      while (spark.streams.active.nonEmpty && waited < 10000) {
        Thread.sleep(100); waited += 100
      }
    }
    def asTuples(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id"), col("firstName"), col("lastName"),
        col("dateOfBirth").cast("string"), col("status"),
        col("valid_from"), col("valid_to"), col("is_current"))
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) "<null>" else r.getString(1),
        if (r.isNullAt(2)) "<null>" else r.getString(2),
        if (r.isNullAt(3)) "<null>" else r.getString(3),
        if (r.isNullAt(4)) -1 else r.getInt(4),
        r.getLong(5),
        if (r.isNullAt(6)) -1L else r.getLong(6),
        r.getInt(7)))
      .toSeq.sorted
    // --- part 1: full reversal of the fixture, chunked ---
    val sinkUrl = "jdbc:derby:memory:graft_scd2_ooo;create=true"
    val dir = Files.createTempDirectory("graft_scd2jooo_in")
    val ckpt = Files.createTempDirectory("graft_scd2jooo_ckpt").toString
    val lines = Fixture.jsonLines.reverse
    val chunks = lines.grouped(math.max(1, lines.size / 4)).toVector
    val t0 = System.currentTimeMillis() - 2000L * (chunks.size + 2)
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      val f = dir.resolve(f"chunk_$i%04d.jsonl")
      Files.write(f, chunk.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f.toFile.setLastModified(t0 + i * 2000L)
    }
    def run() = Streams.materializeScd2Jdbc(Streams.envelopeStream(spark, dir.toString),
      ckpt, sinkUrl, "students_history", orderedTransport = false).awaitTermination()
    run(); quiesce()
    // fully delivered: zero-width tombstones all resolved, table ==
    // the order-free batch fold
    def realRows() = Jdbc.snapshot(spark, sinkUrl, "students_history")
      .filter(col("valid_to").isNull || col("valid_to") =!= col("valid_from"))
    assert(Jdbc.snapshot(spark, sinkUrl, "students_history")
      .filter(col("valid_to").isNotNull && col("valid_to") === col("valid_from")).isEmpty,
      "fully-delivered history must carry no zero-width tombstones")
    val expected = asTuples(Envelope.scd2Fold(
      Envelope.project(spark.read.schema(Envelope.schema).json(dir.toString))
        .filter(col("tag").isin("insert", "update", "delete"))
        .withColumn("valid_from", Envelope.lsnNumeric(col("lsn")))
        .drop("lsn")))
    assert(expected.nonEmpty && asTuples(realRows()) == expected,
      "the out-of-order JDBC history must equal the q50 batch fold")
    // duplicate REDELIVERY of the highest-LSN chunk: all absorbed → no-op
    val fd = dir.resolve("chunk_9999_redeliver.jsonl")
    Files.write(fd, chunks.head.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    fd.toFile.setLastModified(t0 + (chunks.size + 1) * 2000L)
    run(); quiesce()
    assert(asTuples(realRows()) == expected,
      "redelivered duplicates must rebuild to a no-op")
    // --- part 2: the mixed-order orphan case (a delete after its
    // key's earlier history but before its own preceding image) ---
    val sinkUrl2 = "jdbc:derby:memory:graft_scd2_ooo2;create=true"
    val dir2 = Files.createTempDirectory("graft_scd2jooo2_in")
    val ckpt2 = Files.createTempDirectory("graft_scd2jooo2_ckpt").toString
    def ins(lsn: String, id: Long, fn: String): String =
      s"""{"lsn": "$lsn", "tag": "insert", "table": "students", "new": {"id": $id, "first_name": "$fn", "last_name": "X", "date_of_birth": "1960-01-01", "status_id": 1}}"""
    def del(lsn: String, id: Long): String =
      s"""{"lsn": "$lsn", "tag": "delete", "table": "students", "old": {"id": $id}}"""
    val mixed = Seq(
      Seq(ins("0/00000010", 1L, "Ada"), del("0/00000050", 1L), del("0/00000070", 1L)),
      Seq(ins("0/00000060", 1L, "Grace")))
    mixed.zipWithIndex.foreach { case (chunk, i) =>
      val f = dir2.resolve(f"chunk_$i%04d.jsonl")
      Files.write(f, chunk.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f.toFile.setLastModified(t0 + i * 2000L)
      Streams.materializeScd2Jdbc(Streams.envelopeStream(spark, dir2.toString),
        ckpt2, sinkUrl2, "students_history", orderedTransport = false).awaitTermination()
      quiesce()
    }
    val got = Jdbc.snapshot(spark, sinkUrl2, "students_history")
      .select("id", "valid_from", "valid_to", "firstName", "is_current")
      .orderBy("valid_from").collect().toSeq.map(r =>
        (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2),
          r.getString(3), r.getInt(4)))
    assert(got == Seq(
      (1L, 0x10L, 0x50L, "Ada", 0),
      (1L, 0x60L, 0x70L, "Grace", 0)),
      s"mixed-order delivery must converge to the batch fold in the table: $got")
    assert(Envelope.scd2AsOf(Jdbc.snapshot(spark, sinkUrl2, "students_history"), 0x80L).isEmpty,
      "deleted key reads live after mixed-order JDBC delivery")
  }

  // ---- applyScd2 / replaceScd2Keys called directly --------------------

  private val scd2Url = "jdbc:derby:memory:graft_scd2_direct;create=true"

  private def scd2Events(rows: Seq[(Long, String, String, Long)]) =
    rows.toDF("id", "fn", "tag", "valid_from")

  /** Creates `table` holding the SCD2 fold of `stored`. */
  private def seedHistory(table: String, stored: Seq[(Long, String, String, Long)]): Unit = {
    val hist = graft.cdc.Envelope.scd2Fold(scd2Events(stored))
    Jdbc.ensureTable(scd2Url, table, hist.schema, "")
    Jdbc.write(hist, scd2Url, table, SaveMode.Append)
  }

  /** Every history row, sorted; NULL fn reads "<null>", NULL valid_to -1. */
  private def historyRows(df: org.apache.spark.sql.DataFrame) = df
    .select("id", "fn", "valid_from", "valid_to", "is_current").collect().toSeq
    .map(r => (r.getLong(0), if (r.isNullAt(1)) "<null>" else r.getString(1), r.getLong(2),
      if (r.isNullAt(3)) -1L else r.getLong(3), r.getInt(4)))
    .sorted

  private def tableHistory(table: String) = historyRows(Jdbc.snapshot(spark, scd2Url, table))

  test("applyScd2 collapses each key's fresh events in one partition: the table equals the scd2Fold of stored + new; re-applying is a no-op") {
    val table = "scd2_collapse"
    // > 1,000 keys in the one partition, so a flush runs mid-partition
    val bulk = 1000L until 2500L
    val stored = Seq(
      (2L, "x", "insert", 5L),
      (3L, "p", "insert", 6L),
      (6L, "s1", "insert", 7L), (6L, "s2", "update", 8L), (6L, "s3", "update", 9L),
      (7L, "g", "insert", 11L), (7L, null, "delete", 12L)) ++
      bulk.filter(_ % 2 == 0).map(k => (k, s"b$k", "insert", 1L))
    val batch = Seq(
      // insert → update → update
      (1L, "a", "insert", 10L), (1L, "b", "update", 20L), (1L, "c", "update", 30L),
      // update → delete, over a stored open row
      (2L, "y", "update", 40L), (2L, null, "delete", 50L),
      // delete → re-insert
      (3L, null, "delete", 60L), (3L, "q", "insert", 70L),
      // an orphan delete
      (4L, null, "delete", 80L),
      // one event delivered twice (a duplicated LSN)
      (5L, "d", "insert", 90L), (5L, "d", "insert", 90L), (5L, "e", "update", 95L),
      // stored history: replays under and at the high-water mark, then fresh events
      (6L, "s2", "update", 8L), (6L, "s3", "update", 9L),
      (6L, "s4", "update", 100L), (6L, "s5", "update", 110L),
      // a mark that only the stored delete's valid_to records
      (7L, null, "delete", 12L), (7L, "r", "insert", 120L)) ++
      bulk.flatMap(k => Seq((k, s"u$k", "update", 200L), (k, s"v$k", "update", 201L)))
    seedHistory(table, stored)
    val expected = historyRows(graft.cdc.Envelope.scd2Fold(
      scd2Events(stored ++ batch).dropDuplicates("id", "valid_from")))
    val input = scd2Events(batch).coalesce(1).sortWithinPartitions("id", "valid_from")
    Jdbc.applyScd2(input, scd2Url, table, "id", "tag")
    val landed = tableHistory(table)
    assert(landed == expected,
      s"the landed history must equal the scd2Fold of stored + new events: " +
        s"${landed.diff(expected).take(5)} vs ${expected.diff(landed).take(5)}")
    Jdbc.applyScd2(input, scd2Url, table, "id", "tag")
    assert(tableHistory(table) == landed,
      "re-applying the same batch must leave the history unchanged, row for row")
  }

  test("applyScd2 and replaceScd2Keys refuse unclustered or unsorted input with their exact message, and the partition rolls back") {
    val table = "scd2_refuse"
    // past one flush, so keys before the violation reach the table first
    val keys = 1L to 1100L
    seedHistory(table, keys.filter(_ % 3 == 1).map(k => (k, s"s$k", "insert", 1L)))
    val before = tableHistory(table)
    assert(before.nonEmpty)
    def refusal(apply: => Unit): String = {
      val t = intercept[Throwable](apply)
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(e => String.valueOf(e.getMessage))
        .mkString("\n")
    }
    def onePartition(rows: Seq[(Long, String, String, Long)]) =
      spark.sparkContext.parallelize(rows, 1).toDF("id", "fn", "tag", "valid_from")
    val fresh = keys.map(k => (k, s"n$k", "update", 50L))

    val reappears = refusal(Jdbc.applyScd2(
      onePartition(fresh :+ ((1L, "again", "update", 60L))), scd2Url, table, "id", "tag"))
    assert(reappears.contains("requirement failed: [graft] applyScd2 input is not key-clustered: " +
      "key '1' re-appears after its cluster ended — repartition by 'id' and " +
      "sortWithinPartitions(key, valid_from) before calling"), reappears)
    assert(tableHistory(table) == before, "a refused applyScd2 must roll its partition back")

    val unsorted = refusal(Jdbc.applyScd2(
      onePartition(fresh :+ ((1100L, "older", "update", 40L))), scd2Url, table, "id", "tag"))
    assert(unsorted.contains("requirement failed: [graft] applyScd2 input is not sorted by " +
      "(key, valid_from): key '1100' delivered valid_from=40 after 50"), unsorted)
    assert(tableHistory(table) == before, "a refused applyScd2 must roll its partition back")

    val rebuilt = (keys.map(k => (k, s"r$k", 50L, Option.empty[Long], 1)) :+
      ((1L, "again", 60L, Option.empty[Long], 1)))
    val replaced = refusal(Jdbc.replaceScd2Keys(
      spark.sparkContext.parallelize(rebuilt, 1)
        .toDF("id", "fn", "valid_from", "valid_to", "is_current"),
      scd2Url, table, "id"))
    assert(replaced.contains("requirement failed: [graft] replaceScd2Keys input is not " +
      "key-clustered: key '1' re-appears after its cluster ended — repartition by 'id' " +
      "before calling"), replaced)
    assert(tableHistory(table) == before, "a refused replaceScd2Keys must roll its partition back")
  }

  test("compactScd2Table: every as-of >= horizon is exact after compaction; reads below refuse; horizon only advances; the stream continues") {
    import java.nio.file.Files
    import graft.cdc.{Envelope, Fixture}
    import graft.streaming.Streams
    val sinkUrl = "jdbc:derby:memory:graft_scd2_cmp;create=true"
    val in = Fixture.materializeChunks(3)
    val ckpt = Files.createTempDirectory("graft_scd2cmpj_ckpt").toString
    def quiesce(): Unit = {
      var waited = 0
      while (spark.streams.active.nonEmpty && waited < 10000) {
        Thread.sleep(100); waited += 100
      }
    }
    def run() = Streams.materializeScd2Jdbc(Streams.envelopeStream(spark, in),
      ckpt, sinkUrl, "students_history").awaitTermination()
    run(); quiesce()
    def hist() = Jdbc.snapshot(spark, sinkUrl, "students_history")
    def canon(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] = {
      val cols = df.columns.sorted
      df.select(cols.map(c => col(c).cast("string")): _*).collect()
        .map(_.toSeq.map(v => if (v == null) "<null>" else v.toString)).toSeq
        .sortBy(_.mkString("|"))
    }
    val tos = hist().filter(col("valid_to").isNotNull)
      .select(col("valid_to")).collect().map(_.getLong(0)).sorted
    assert(tos.length > 10, "fixture must have accumulated closed intervals")
    val horizon = tos(tos.length / 2)
    val maxLsn = hist().agg(max(col("valid_from"))).head.getLong(0)
    val probes = Seq(horizon, (horizon + maxLsn) / 2, Long.MaxValue)
    val before = probes.map(x => canon(Jdbc.scd2AsOfJdbc(spark, sinkUrl, "students_history", x)))
    val rowsBefore = hist().count()
    Jdbc.compactScd2Table(sinkUrl, "students_history", horizon)
    assert(Jdbc.scd2HorizonJdbc(sinkUrl, "students_history").contains(horizon))
    assert(hist().filter(col("valid_to").isNotNull && col("valid_to") <= horizon).isEmpty,
      "compaction must delete every interval with valid_to <= horizon")
    assert(hist().count() < rowsBefore, "compaction must shrink the history table")
    probes.zip(before).foreach { case (x, want) =>
      assert(canon(Jdbc.scd2AsOfJdbc(spark, sinkUrl, "students_history", x)) == want,
        s"as-of $x must be exact after compaction")
    }
    val e1 = intercept[IllegalArgumentException] {
      Jdbc.scd2AsOfJdbc(spark, sinkUrl, "students_history", horizon - 1)
    }
    assert(e1.getMessage.contains("compacted horizon"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Jdbc.compactScd2Table(sinkUrl, "students_history", horizon - 16)
    }
    assert(e2.getMessage.contains("only advance"), e2.getMessage)
    // the stream continues onto the compacted table: the per-key hwm
    // screen reads the SURVIVING rows, so fresh events keep applying
    val extra = java.nio.file.Paths.get(in).resolve("chunk_9998_more.jsonl")
    Files.write(extra, Fixture.jsonLines.takeRight(40).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    extra.toFile.setLastModified(System.currentTimeMillis())
    run(); quiesce()
    val liveWant = canon(Envelope.scd2AsOf(Envelope.scd2Fold(
      Envelope.project(spark.read.schema(Envelope.schema).json(in))
        .filter(col("tag").isin("insert", "update", "delete"))
        .withColumn("valid_from", Envelope.lsnNumeric(col("lsn")))
        .drop("lsn")), Long.MaxValue))
    assert(canon(Jdbc.scd2AsOfJdbc(spark, sinkUrl, "students_history", Long.MaxValue)) == liveWant,
      "post-compaction batches must keep the live rows exact")
  }

  test("materializeCdcJdbc widens the remote table on additive schema drift; pre-drift rows read back NULL") {
    import java.nio.file.Files
    import org.apache.spark.sql.types._
    import graft.cdc.Envelope
    import graft.streaming.Streams
    val sinkUrl = "jdbc:derby:memory:graft_cdc_drift;create=true"
    val dir = Files.createTempDirectory("graft_jdbcdrift_in")
    val ckpt = Files.createTempDirectory("graft_jdbcdrift_ckpt").toString
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
    Streams.materializeCdcJdbc(Streams.envelopeStream(spark, dir.toString), ckpt,
      sinkUrl, "students_drift").awaitTermination()
    quiesce()
    assert(!Jdbc.snapshot(spark, sinkUrl, "students_drift")
      .columns.exists(_.equalsIgnoreCase("email")))
    // drift restart with the widened schema; a new key arrives WITH
    // email, the pre-drift key is untouched
    deliver(s"""{"lsn": "0/00000020", "tag": "insert", "table": "students", ${img(2L, """, "email": "two@x"""")}}""")
    val widened = StructType(Envelope.schema.fields.map {
      case f if f.name == "new" =>
        f.copy(dataType = f.dataType.asInstanceOf[StructType].add("email", StringType))
      case f => f
    })
    Streams.materializeCdcJdbc(
      Streams.envelopeStream(spark, dir.toString, schema = widened), ckpt,
      sinkUrl, "students_drift").awaitTermination()
    quiesce()
    val back = Jdbc.snapshot(spark, sinkUrl, "students_drift")
    val emailIdx = back.columns.indexWhere(_.equalsIgnoreCase("email"))
    assert(emailIdx >= 0, s"table must gain the drifted column: ${back.columns.mkString(",")}")
    val byId = back.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(emailIdx)) None else Some(r.getString(emailIdx)))).toMap
    assert(byId == Map(1L -> None, 2L -> Some("two@x")),
      s"pre-drift row NULL, post-drift row carries the value: $byId")
  }

  test("applyChangesVersioned: higher version wins, equal/lower keeps the stored row, unseen inserts, tombstone blocks resurrection") {
    val url3 = "jdbc:derby:memory:graft_cas_unit;create=true"
    def batch(rows: (Long, Long, String, String)*) =
      rows.toSeq.toDF("k", "ver", "v", "op")
    val b1 = batch((1L, 10L, "a", "U"), (2L, 20L, "b", "U"), (3L, 30L, null, "D"))
    Jdbc.ensureTable(url3, "cas_unit", b1.schema, "k")
    Jdbc.applyChangesVersioned(b1, url3, "cas_unit", "k", "ver", "op")
    Jdbc.applyChangesVersioned(batch(
      (1L, 11L, "a2", "U"),     // newer -> wins (the UPDATE path)
      (2L, 5L, "stale", "U"),   // older -> stored row survives
      (3L, 7L, "zombie", "U"),  // older than the tombstone -> stays dead
      (4L, 1L, "new", "U")),    // unseen -> guarded insert
      url3, "cas_unit", "k", "ver", "op")
    Jdbc.applyChangesVersioned(batch((1L, 11L, "dup", "U")), // equal -> keeps
      url3, "cas_unit", "k", "ver", "op")
    val got = Jdbc.snapshot(spark, url3, "cas_unit").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), Option(r.getString(2)), r.getString(3)))).toMap
    assert(got == Map(
      1L -> ((11L, Some("a2"), "U")),
      2L -> ((20L, Some("b"), "U")),
      3L -> ((30L, None, "D")),
      4L -> ((1L, Some("new"), "U"))), got.toString)
    // a NEWER image legitimately revives the deleted key
    Jdbc.applyChangesVersioned(batch((3L, 31L, "back", "U")),
      url3, "cas_unit", "k", "ver", "op")
    val k3 = Jdbc.snapshot(spark, url3, "cas_unit").filter(col("k") === 3L).collect().head
    assert(k3.getString(2) == "back" && k3.getString(3) == "U")
  }

  test("materializeCdcJdbc CAS mode: reverse-LSN delivery converges in the table; lost-commit replay is a no-op") {
    import java.nio.file.Files
    import graft.cdc.{Envelope, Fixture}
    import graft.streaming.Streams
    val sinkUrl = "jdbc:derby:memory:graft_cdc_cas;create=true"
    // reverse chunk delivery — the batch order an out-of-order
    // transport can produce, same input shape as the parquet CAS test
    val lines = Fixture.jsonLines
    val chunks = lines.grouped(math.max(1, lines.size / 4)).toVector
    val dir = Files.createTempDirectory("graft_jdbccas_in")
    val t0 = System.currentTimeMillis() - 2000L * (chunks.size + 1)
    chunks.indices.reverse.zipWithIndex.foreach { case (ci, pos) =>
      val f = dir.resolve(f"chunk_$ci%04d.jsonl")
      Files.write(f, chunks(ci).mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f.toFile.setLastModified(t0 + pos * 2000L)
    }
    val ckpt = Files.createTempDirectory("graft_jdbccas_ckpt").toString
    Streams.materializeCdcJdbc(Streams.envelopeStream(spark, dir.toString), ckpt,
      sinkUrl, "students_cas", orderedTransport = false).awaitTermination()
    var waited = 0
    while (spark.streams.active.nonEmpty && waited < 10000) {
      Thread.sleep(100); waited += 100
    }
    // ensureTable quotes the camelCase names, so they come back exact
    def liveRows() = Streams.cdcLiveStateJdbc(spark, sinkUrl, "students_cas")
      .collect().map(r => (r.getLong(r.fieldIndex("id")),
        r.getString(r.fieldIndex("firstName")), r.getString(r.fieldIndex("lastName")),
        r.getDate(r.fieldIndex("dateOfBirth")).toString,
        r.getInt(r.fieldIndex("status")))).toSeq.sorted
    val expected = Envelope.lastImageByKey(Envelope.project(
      spark.read.schema(Envelope.schema).json(dir.toString)))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getDate(3).toString, r.getInt(4))).toSeq.sorted
    assert(expected.nonEmpty && liveRows() == expected,
      "CAS table must equal the last-image replay despite reversed delivery")
    // lost commit: the replayed batch meets every key at an equal
    // version — the guarded insert and the strict < update both no-op
    val commitsDir = new java.io.File(ckpt, "commits")
    val newest = commitsDir.listFiles().filterNot(_.getName.startsWith("."))
      .maxBy(_.getName.toLong)
    assert(newest.delete())
    new java.io.File(commitsDir, s".${newest.getName}.crc").delete()
    Streams.materializeCdcJdbc(Streams.envelopeStream(spark, dir.toString), ckpt,
      sinkUrl, "students_cas", orderedTransport = false).awaitTermination()
    assert(liveRows() == expected, "equal-version replay must be a table no-op")
  }

  test("JDBC CAS tombstone GC: in-horizon blocks resurrection, expired tombstones are deleted from the table") {
    import java.nio.file.Files
    import graft.streaming.Streams
    val sinkUrl = "jdbc:derby:memory:graft_cas_gc;create=true"
    val dir = Files.createTempDirectory("graft_jdbcgc_in")
    val ckpt = Files.createTempDirectory("graft_jdbcgc_ckpt").toString
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
      Streams.materializeCdcJdbc(Streams.envelopeStream(spark, dir.toString), ckpt,
        sinkUrl, "students_gc", orderedTransport = false, casTombstoneRetention = 1L)
        .awaitTermination()
      var waited = 0
      while (spark.streams.active.nonEmpty && waited < 10000) {
        Thread.sleep(100); waited += 100
      }
    }
    def liveIds() = Streams.cdcLiveStateJdbc(spark, sinkUrl, "students_gc")
      .select("id").collect().map(_.getLong(0)).toSet
    def rawCount() = Jdbc.snapshot(spark, sinkUrl, "students_gc").count()
    deliver(ins("0/00000010", 1L), ins("0/00000020", 2L))        // batch 0
    assert(liveIds() == Set(1L, 2L) && rawCount() == 2)
    deliver(del("0/00000100", 1L))                               // batch 1: tombstone
    assert(liveIds() == Set(2L) && rawCount() == 2, "tombstone row kept in the table")
    deliver(upd("0/00000050", 1L, "zombie"), upd("0/00000200", 2L, "f2")) // batch 2: in horizon
    assert(liveIds() == Set(2L) && rawCount() == 2, "in-horizon tombstone blocks the stale update")
    deliver(upd("0/00000300", 2L, "f3"))                         // batch 3: expired -> GC
    assert(rawCount() == 1, "expired tombstone must be deleted from the table")
    assert(liveIds() == Set(2L))
    deliver(upd("0/00000060", 1L, "revenant"))                   // past horizon: the accepted trade
    assert(liveIds() == Set(1L, 2L))
  }

  test("a JDBC materialization checkpoint is bound to its url#table: retargeting fails loudly") {
    import java.nio.file.Files
    import graft.cdc.Fixture
    import graft.streaming.Streams
    val sinkUrl = "jdbc:derby:memory:graft_bind_jdbc;create=true"
    val in = Fixture.materializeChunks(2)
    val ckpt = Files.createTempDirectory("graft_jdbcbind_ckpt").toString
    Streams.materializeCdcJdbc(Streams.envelopeStream(spark, in), ckpt, sinkUrl, "students_b1")
      .awaitTermination()
    var waited = 0
    while (spark.streams.active.nonEmpty && waited < 10000) {
      Thread.sleep(100); waited += 100
    }
    // same checkpoint, different table: the committed batches would be
    // silently skipped in students_b2 — must refuse
    val commitsDir = new java.io.File(ckpt, "commits")
    val newest = commitsDir.listFiles().filterNot(_.getName.startsWith("."))
      .maxBy(_.getName.toLong)
    assert(newest.delete()) // make a batch replayable so foreachBatch runs
    new java.io.File(commitsDir, s".${newest.getName}.crc").delete()
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streams.materializeCdcJdbc(Streams.envelopeStream(spark, in), ckpt, sinkUrl, "students_b2")
        .awaitTermination()
    }
    def msgs(t: Throwable): String = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString("\n")
    assert(msgs(failed).contains("bound to sink") && msgs(failed).contains("students_b1"),
      msgs(failed))
  }

  test("flipping the transport mode against the same checkpoint+table fails loudly") {
    // the sink identity includes the mode: an ordered restart of a CAS
    // checkpoint applies rows WITHOUT the op/lsn bookkeeping — rows
    // written after the flip read back op=NULL and silently vanish
    // from cdcLiveStateJdbc's three-valued `op <> 'D'` filter
    import java.nio.file.Files
    import graft.cdc.Fixture
    import graft.streaming.Streams
    val sinkUrl = "jdbc:derby:memory:graft_modeflip;create=true"
    val in = Fixture.materializeChunks(2)
    val ckpt = Files.createTempDirectory("graft_modeflip_ckpt").toString
    Streams.materializeCdcJdbc(Streams.envelopeStream(spark, in), ckpt, sinkUrl,
      "students_mf", orderedTransport = false).awaitTermination()
    var waited = 0
    while (spark.streams.active.nonEmpty && waited < 10000) {
      Thread.sleep(100); waited += 100
    }
    val commitsDir = new java.io.File(ckpt, "commits")
    val newest = commitsDir.listFiles().filterNot(_.getName.startsWith("."))
      .maxBy(_.getName.toLong)
    assert(newest.delete())
    new java.io.File(commitsDir, s".${newest.getName}.crc").delete()
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streams.materializeCdcJdbc(Streams.envelopeStream(spark, in), ckpt, sinkUrl,
        "students_mf", orderedTransport = true).awaitTermination()
    }
    def msgs(t: Throwable): String = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString("\n")
    assert(msgs(failed).contains("bound to sink") && msgs(failed).contains(":cas") &&
      msgs(failed).contains(":ordered"), msgs(failed))
  }

  test("JDBC CAS on a pre-upgrade table: NULL stamps are backfilled to age from the upgrade batch, then GC'd on schedule") {
    import java.nio.file.Files
    import graft.streaming.Streams
    import org.apache.spark.sql.types._
    // Pre-upgrade CAS table: created WITHOUT the arrival-batch stamp
    // column (the shape applyChangesVersioned wrote before tombstone GC
    // existed), holding a live row and a tombstone. ensureTable widens
    // the stamp in (NULL); `stamp < ?` keeps NULLs so the tombstone was
    // GC-safe but would never age — the backfill stamps it with the
    // upgrade batch's id so the horizon applies from there.
    val casUrl = "jdbc:derby:memory:graft_backfill;create=true"
    val preSchema = StructType(Seq(
      StructField("id", LongType), StructField("firstName", StringType),
      StructField("lastName", StringType), StructField("dateOfBirth", DateType),
      StructField("status", IntegerType), StructField("lsn", StringType),
      StructField("op", StringType)))
    Jdbc.ensureTable(casUrl, "cas_pre", preSchema, "id")
    val c2 = java.sql.DriverManager.getConnection(casUrl)
    try {
      val st = c2.createStatement()
      // canonical %08X/%08X LSNs — a pre-canonicalization table would
      // first get the one-time LSN migration the scaladoc documents
      st.executeUpdate("""INSERT INTO cas_pre VALUES (1, NULL, NULL, NULL, NULL, '00000000/00000100', 'D')""")
      st.executeUpdate("""INSERT INTO cas_pre VALUES (2, 'fn2', 'ln2', '1990-01-01', 1, '00000000/00000020', 'U')""")
      st.close()
    } finally c2.close()
    def img(id: Long, fn: String) =
      s""""new": {"id": $id, "first_name": "$fn", "last_name": "ln$id", "date_of_birth": "1990-01-01", "status_id": 1}"""
    val dir = Files.createTempDirectory("graft_backfill_in")
    val ckpt = Files.createTempDirectory("graft_backfill_ckpt").toString
    var chunkNo = 0
    var mtime = System.currentTimeMillis() - 120000L
    def deliver(lines: String*): Unit = {
      val f = dir.resolve(f"chunk_$chunkNo%04d.jsonl")
      Files.write(f, lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f.toFile.setLastModified(mtime)
      mtime += 2000L; chunkNo += 1
      Streams.materializeCdcJdbc(Streams.envelopeStream(spark, dir.toString), ckpt,
        casUrl, "cas_pre", orderedTransport = false, casTombstoneRetention = 1L)
        .awaitTermination()
      var waited = 0
      while (spark.streams.active.nonEmpty && waited < 10000) {
        Thread.sleep(100); waited += 100
      }
    }
    def rawCount() = Jdbc.snapshot(spark, casUrl, "cas_pre").count()
    def liveIds() = Streams.cdcLiveStateJdbc(spark, casUrl, "cas_pre")
      .select("id").collect().map(_.getLong(0)).toSet
    // batch 0 (upgrade batch): a stale OLDER update for deleted key 1
    // — the unstamped tombstone must block it AND get backfilled to 0
    deliver(s"""{"lsn": "0/00000050", "tag": "update", "table": "students", ${img(1L, "zombie")}}""")
    assert(liveIds() == Set(2L), "unstamped tombstone must still block the stale update")
    assert(rawCount() == 2, "upgrade batch must keep the tombstone (age 0)")
    // batch 1: age 1 <= retention 1 — kept
    deliver(s"""{"lsn": "0/00000200", "tag": "update", "table": "students", ${img(2L, "fresh2")}}""")
    assert(rawCount() == 2, "age 1 <= retention: tombstone kept")
    // batch 2: age 2 > retention 1 — compacted
    deliver(s"""{"lsn": "0/00000210", "tag": "update", "table": "students", ${img(2L, "fresh3")}}""")
    assert(rawCount() == 1, "backfilled tombstone must GC on schedule")
    assert(liveIds() == Set(2L))
  }

  test("CAS streaming refuses a table holding non-canonical version strings at stream start") {
    import java.nio.file.Files
    import graft.streaming.Streams
    import org.apache.spark.sql.types._
    // a pre-canonicalization table's raw wire LSNs compare WRONG
    // against canonical change LSNs ('/' sorts below '0'), so the
    // stream must refuse to apply onto it until the one-time migration
    val probeUrl = "jdbc:derby:memory:graft_canon_probe;create=true"
    val preSchema = StructType(Seq(
      StructField("id", LongType), StructField("firstName", StringType),
      StructField("lastName", StringType), StructField("dateOfBirth", DateType),
      StructField("status", IntegerType), StructField("lsn", StringType),
      StructField("op", StringType), StructField("__graft_arrival_batch", LongType)))
    Jdbc.ensureTable(probeUrl, "cas_raw", preSchema, "id")
    val c3 = java.sql.DriverManager.getConnection(probeUrl)
    try {
      val st = c3.createStatement()
      st.executeUpdate("""INSERT INTO cas_raw VALUES (1, 'fn', 'ln', '1990-01-01', 1, '0/16B2D80', 'U', 0)""")
      st.close()
    } finally c3.close()
    val dir = Files.createTempDirectory("graft_canon_in")
    Files.write(dir.resolve("chunk_0000.jsonl"),
      s"""{"lsn": "0/20", "tag": "insert", "table": "students", "new": {"id": 2, "first_name": "x", "last_name": "y", "date_of_birth": "1990-01-01", "status_id": 1}}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val ckpt = Files.createTempDirectory("graft_canon_ckpt").toString
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streams.materializeCdcJdbc(Streams.envelopeStream(spark, dir.toString), ckpt,
        probeUrl, "cas_raw", orderedTransport = false).awaitTermination()
    }
    def msgs(t: Throwable): String = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString("\n")
    assert(msgs(failed).contains("non-canonical version string") &&
      msgs(failed).contains("0/16B2D80"), msgs(failed))
  }

  test("canonical-version probe rejects lowercase hex and misplaced separators, not just wrong length") {
    import org.apache.spark.sql.types._
    // a hand-rolled %08x migration produces 17-char LOWERCASE hex,
    // which passes a length-only probe but still mis-orders in the
    // SQL '<' CAS guard ('a' > 'A' and 'a' > '9'); same for a 17-char
    // value with the '/' off position 9
    val u = "jdbc:derby:memory:graft_canon_shape;create=true"
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("lsn", StringType),
      StructField("op", StringType)))
    def probe(version: String): Unit = {
      Jdbc.ensureTable(u, "cas_shape", schema, "id")
      val c = java.sql.DriverManager.getConnection(u)
      try {
        val st = c.createStatement()
        st.executeUpdate(s"DELETE FROM cas_shape")
        st.executeUpdate(s"INSERT INTO cas_shape VALUES (1, '$version', 'U')")
        st.close()
      } finally c.close()
      Jdbc.requireCanonicalVersions(u, "cas_shape", "lsn")
    }
    probe("00000000/016B2D80") // canonical: passes
    val lower = intercept[IllegalStateException](probe("00000000/016b2d80"))
    assert(lower.getMessage.contains("non-canonical"), lower.getMessage)
    val shifted = intercept[IllegalStateException](probe("000000000/16B2D80"))
    assert(shifted.getMessage.contains("non-canonical"), shifted.getMessage)
  }

  test("canonicalizeLsns: refuse -> migrate -> pass, and a late older change still loses the CAS") {
    import org.apache.spark.sql.types._
    val u = "jdbc:derby:memory:graft_canon_mig;create=true"
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("firstName", StringType),
      StructField("lsn", StringType), StructField("op", StringType),
      StructField("__graft_arrival_batch", LongType)))
    Jdbc.ensureTable(u, "cas_mig", schema, "id")
    val c = java.sql.DriverManager.getConnection(u)
    try {
      val st = c.createStatement()
      // raw variable-width wire LSNs — the pre-canonicalization shape.
      // '0/16B2D80' < '00000000/01000000' lexicographically ('/' <
      // '0'), so before migration a STALE canonical change would win
      // the SQL '<' CAS against this newer stored row.
      st.executeUpdate("INSERT INTO cas_mig VALUES (1, 'fresh', '0/16B2D80', 'U', 0)")
      st.executeUpdate("INSERT INTO cas_mig VALUES (2, 'two', '0/9', 'U', 0)")
      st.executeUpdate("INSERT INTO cas_mig VALUES (3, NULL, '0/A0', 'D', 0)")
      st.close()
    } finally c.close()
    // the stream-start guard refuses the pre-canonical table
    val refused = intercept[IllegalStateException](
      Jdbc.requireCanonicalVersions(u, "cas_mig", "lsn"))
    assert(refused.getMessage.contains("canonicalizeLsns"), refused.getMessage)
    // the migration it names rewrites exactly the non-canonical rows
    assert(Jdbc.canonicalizeLsns(u, "cas_mig", "lsn") == 3L)
    Jdbc.requireCanonicalVersions(u, "cas_mig", "lsn") // passes now
    assert(Jdbc.canonicalizeLsns(u, "cas_mig", "lsn") == 0L, "idempotent re-run")
    def row1() = Jdbc.snapshot(spark, u, "cas_mig").filter(col("id") === 1L)
      .select("firstName", "lsn").collect().head
    assert(row1().getString(1) == "00000000/016B2D80", "0/16B2D80 -> %08X/%08X")
    // a LATE OLDER change (the mis-ordering victim) must now lose
    val stale = Seq((1L, "stale", "00000000/01000000", "U", 1L))
      .toDF("id", "firstName", "lsn", "op", "__graft_arrival_batch")
    Jdbc.applyChangesVersioned(stale, u, "cas_mig", "id", "lsn", "op")
    assert(row1().getString(0) == "fresh", "older version must lose the CAS post-migration")
    // and a genuinely newer one still wins
    val newer = Seq((1L, "newest", "00000000/02000000", "U", 2L))
      .toDF("id", "firstName", "lsn", "op", "__graft_arrival_batch")
    Jdbc.applyChangesVersioned(newer, u, "cas_mig", "id", "lsn", "op")
    assert(row1().getString(0) == "newest")
    // a non-LSN version value aborts BEFORE any rewrite
    val c2 = java.sql.DriverManager.getConnection(u)
    try {
      val st = c2.createStatement()
      st.executeUpdate("INSERT INTO cas_mig VALUES (9, 'bad', 'not-an-lsn', 'U', 0)")
      st.executeUpdate("INSERT INTO cas_mig VALUES (10, 'raw', '0/77', 'U', 0)")
      st.close()
    } finally c2.close()
    val aborted = intercept[IllegalStateException](Jdbc.canonicalizeLsns(u, "cas_mig", "lsn"))
    assert(aborted.getMessage.contains("not-an-lsn"), aborted.getMessage)
    val untouched = Jdbc.snapshot(spark, u, "cas_mig").filter(col("id") === 10L)
      .select("lsn").collect().head.getString(0)
    assert(untouched == "0/77", "a malformed sibling must abort with zero rows touched")
  }

  test("metadata reads refuse a table stored under a mixed-case quoted identifier, loudly") {
    import org.apache.spark.sql.types._
    // quoted DDL stores the identifier case-exact; every case-fold
    // pattern (as-is/UPPER/lower of the caller's name) misses it, so
    // the metadata read falls back to a full-schema listing — finding
    // it must NOT silently no-op requireCompatibleDriftJdbc /
    // requireCanonicalVersions ("table doesn't exist"). But the
    // engine's DDL/DML and guard probes are all UNQUOTED SQL, which
    // the dialect folds — they can't address 'Students_Mixed' at all,
    // so returning its metadata would trade the silent no-op for a
    // per-batch raw-SQLException crash loop. The contract is a named
    // refusal at detection, once.
    val u = "jdbc:derby:memory:graft_mixed_ident;create=true"
    val c = java.sql.DriverManager.getConnection(u)
    try {
      val st = c.createStatement()
      st.executeUpdate(
        """CREATE TABLE "Students_Mixed" ("id" BIGINT NOT NULL PRIMARY KEY, "lsn" VARCHAR(17))""")
      st.close()
    } finally c.close()
    val refused = intercept[IllegalStateException](Jdbc.columnMeta(u, "students_mixed"))
    assert(refused.getMessage.contains("Students_Mixed"), refused.getMessage)
    assert(refused.getMessage.contains("mixed-case"), refused.getMessage)
    // ensureTable hits the same named refusal instead of skipping
    // CREATE and crash-looping on unquoted ALTER/INSERT
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("lsn", StringType)))
    val ensure = intercept[IllegalStateException](
      Jdbc.ensureTable(u, "students_mixed", schema, "id"))
    assert(ensure.getMessage.contains("mixed-case"), ensure.getMessage)
  }

  test("ensureTable refuses a VIEW under the target name instead of writing through it") {
    import org.apache.spark.sql.types._
    // getColumns-style existence would see the view's columns, skip
    // CREATE, and let the materializer ALTER (SQL error) or INSERT
    // THROUGH an updatable view into its base table — silent writes to
    // a table nobody named. The existence probe reads TABLE_TYPE and
    // refuses non-base-tables by name.
    val u = "jdbc:derby:memory:graft_view_clash;create=true"
    val c = java.sql.DriverManager.getConnection(u)
    try {
      val st = c.createStatement()
      st.executeUpdate(
        "CREATE TABLE view_base (\"id\" BIGINT NOT NULL PRIMARY KEY, \"name\" VARCHAR(32))")
      st.executeUpdate("CREATE VIEW students_v AS SELECT * FROM view_base")
      st.close()
    } finally c.close()
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    val refused = intercept[IllegalStateException](
      Jdbc.ensureTable(u, "students_v", schema, "id"))
    assert(refused.getMessage.contains("VIEW"), refused.getMessage)
    // the base table itself stays usable
    Jdbc.ensureTable(u, "view_base", schema, "id")
  }

  test("canonical-version probe catches NULL and hex-shaped garbage, migration refuses both") {
    import org.apache.spark.sql.types._
    // NULL passes every SQL comparison via three-valued logic, so the
    // old LENGTH/UPPER/SUBSTR predicate never returned those rows —
    // yet a NULL version makes the CAS '<' guard permanently false:
    // the key can never be updated again, silently. And a 17-char
    // UPPERCASE value with non-hex characters ('Z' > 'F') passes a
    // shape-only probe while sorting above every real LSN — its key
    // wins every CAS forever. Both must be flagged at stream start and
    // refused (not rewritten around) by the migration.
    val u = "jdbc:derby:memory:graft_cas_nullhex;create=true"
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("firstName", StringType),
      StructField("lsn", StringType), StructField("op", StringType),
      StructField("__graft_arrival_batch", LongType)))
    Jdbc.ensureTable(u, "cas_nullhex", schema, "id")
    val c = java.sql.DriverManager.getConnection(u)
    try {
      val st = c.createStatement()
      st.executeUpdate("INSERT INTO cas_nullhex VALUES (1, 'ok', '00000000/00000001', 'U', 0)")
      st.executeUpdate("INSERT INTO cas_nullhex VALUES (2, 'null-lsn', NULL, 'U', 0)")
      st.close()
    } finally c.close()
    val nullRefused = intercept[IllegalStateException](
      Jdbc.requireCanonicalVersions(u, "cas_nullhex", "lsn"))
    assert(nullRefused.getMessage.contains("NULL"), nullRefused.getMessage)
    val nullAborted = intercept[IllegalStateException](
      Jdbc.canonicalizeLsns(u, "cas_nullhex", "lsn"))
    assert(nullAborted.getMessage.contains("NULL"), nullAborted.getMessage)
    // clear the NULL, plant hex-shaped garbage: right length, right
    // separator, uppercase — wrong alphabet
    val c2 = java.sql.DriverManager.getConnection(u)
    try {
      val st = c2.createStatement()
      st.executeUpdate("UPDATE cas_nullhex SET \"lsn\" = '00000000/00000002' WHERE \"id\" = 2")
      st.executeUpdate("INSERT INTO cas_nullhex VALUES (3, 'garbage', 'ZZZZZZZZ/00000001', 'U', 0)")
      st.close()
    } finally c2.close()
    val hexRefused = intercept[IllegalStateException](
      Jdbc.requireCanonicalVersions(u, "cas_nullhex", "lsn"))
    assert(hexRefused.getMessage.contains("ZZZZZZZZ/00000001"), hexRefused.getMessage)
    val hexAborted = intercept[IllegalStateException](
      Jdbc.canonicalizeLsns(u, "cas_nullhex", "lsn"))
    assert(hexAborted.getMessage.contains("ZZZZZZZZ/00000001"), hexAborted.getMessage)
    // with the garbage repaired, probe and migration both settle
    val c3 = java.sql.DriverManager.getConnection(u)
    try {
      val st = c3.createStatement()
      st.executeUpdate("UPDATE cas_nullhex SET \"lsn\" = '00000000/00000003' WHERE \"id\" = 3")
      st.close()
    } finally c3.close()
    Jdbc.requireCanonicalVersions(u, "cas_nullhex", "lsn")
    assert(Jdbc.canonicalizeLsns(u, "cas_nullhex", "lsn") == 0L)
  }

  test("CAS insert fallback fires on count 0 AND on SUCCESS_NO_INFO, never on a positive row count") {
    // Oracle always returns Statement.SUCCESS_NO_INFO (-2) from
    // executeBatch; PostgreSQL does with reWriteBatchedInserts. An
    // `== 0` correlation there never matches, so genuinely-new keys
    // would silently never be inserted — the guarded INSERT makes the
    // extra attempt a no-op for rows the UPDATE did hit, so -2 must
    // route to the fallback alongside 0.
    assert(Jdbc.needsInsertAttempt(0))
    assert(Jdbc.needsInsertAttempt(java.sql.Statement.SUCCESS_NO_INFO))
    assert(!Jdbc.needsInsertAttempt(1))
    assert(!Jdbc.needsInsertAttempt(2))
  }

  test("jdbc snapshot feeds the same downstream CDC contract as the parquet stand-in") {
    seeded
    // snapshot-then-stream (A6): the JDBC snapshot plugs into
    // Streams.snapshotThenStream exactly where the parquet snapshot
    // does — prove the projection aligns end-to-end
    val snap = Jdbc.snapshot(spark, url, "students")
      .select(col("ID").as("id"), col("FIRST_NAME").as("firstName"),
        col("LAST_NAME").as("lastName"),
        col("DATE_OF_BIRTH").cast("date").as("dateOfBirth"),
        col("STATUS_ID").as("status"))
    val changes = graft.cdc.Envelope.project(
      spark.read.schema(graft.cdc.Envelope.schema).json(graft.cdc.Fixture.materialize()))
    val merged = graft.streaming.Streams.snapshotThenStream(snap, changes)
    val streamKeys = changes.select("id").distinct().collect().map(_.getLong(0)).toSet
    // every snapshot-only key survives with its JDBC-sourced image
    val survivors = merged.filter(!col("id").isin(streamKeys.toSeq: _*))
    assert(survivors.count() == (0 until 40).count(i => !streamKeys.contains(i.toLong)))
    assert(survivors.filter(col("firstName").startsWith("fn_")).count() == survivors.count())
  }

  test("applyChanges and applyChangesVersioned roll their partition back when a statement fails after the first 1,000-statement batch") {
    val u = "jdbc:derby:memory:graft_lastimage_rollback;create=true"
    def rows(table: String) = Jdbc.snapshot(spark, u, table).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    def onePartition(rows: Seq[(Long, String, Long, String)]) =
      spark.sparkContext.parallelize(rows, 1).toDF("id", "fn", "lsn", "op")
    // 1,100 rows: keys 1..40 exist (updates, every tenth a delete), the
    // rest are new; the last row's 513-char value overflows the
    // VARCHAR(512) ensureTable creates, so the database refuses it in
    // the second statement batch, after the first 1,000 rows have run
    val failing = (1L to 1100L).map(k =>
      (k, if (k == 1100L) "x" * 513 else s"new$k", 100L + k, if (k % 10 == 0 && k <= 40) "D" else "U"))
    val seed = (1L to 40L).map(k => (k, s"old$k", k, "U"))
    def sqlState(t: Throwable): Option[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collectFirst {
        case e: java.sql.SQLException => e.getSQLState
      }
    Seq[(String, (org.apache.spark.sql.DataFrame, String) => Unit, Boolean)](
      ("lastimage_rb", (df, t) => Jdbc.applyChanges(df, u, t, "id", "op"), false),
      ("cas_rb", (df, t) => Jdbc.applyChangesVersioned(df, u, t, "id", "lsn", "op"), true)
    ).foreach { case (table, apply, storesOp) =>
      val shape = onePartition(seed)
      Jdbc.ensureTable(u, table, (if (storesOp) shape else shape.drop("op")).schema, "id")
      apply(onePartition(seed), table)
      val before = rows(table)
      assert(before.size == 40 && before.contains((7L, "old7", 7L)), s"$table: seeded")
      val failed = intercept[Throwable](apply(onePartition(failing), table))
      assert(sqlState(failed).contains("22001"),
        s"$table: the 513-char value must fail in the database: $failed")
      assert(rows(table) == before,
        s"$table: a failed partition must roll back to the table as it was before the call")
    }
  }
}
