package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.cdc.{Envelope, Fixture}
import graft.streaming.Streams
import graft.CdcFolds._

/** Multi-table CDC demux (round 10's lead item): the reference's
  * publication is `FOR ALL TABLES` (`/root/reference/src/utilities/
  * query.ts:12`), so ONE slot interleaves `students` and `status`
  * events. These specs pin (a) the registry surface — union envelope
  * schema, per-relation projection, (b) both materializer modes
  * demuxing into per-relation state that equals an independent
  * sequential fold of each relation's events alone, and (c) the loud
  * failures: a single-table materializer fed the mixed stream, and a
  * demux missing a registration. Expected values are folded directly
  * from the fixture case classes — never through the code under test.
  */
class MultiTableCdcSpec extends SparkSuite {

  private val relations = Seq(Envelope.studentsRelation, Envelope.statusRelation)
  private val union = Envelope.unionSchema(relations)

  private def quiesce(): Unit = {
    var waited = 0
    while (spark.streams.active.nonEmpty && waited < 10000) {
      Thread.sleep(100); waited += 100
    }
  }

  test("fixture precondition: relations interleave and their key spaces overlap") {
    // the un-demuxed failure mode is cross-table key merging — it only
    // bites if ids collide across relations, so the fixture must collide
    assert(statusFinal.keySet.intersect(studentsFinal.keySet).nonEmpty)
    val lsns = Fixture.multiTableJsonLines.filter(_.contains("\"table\": \"status\""))
    assert(lsns.size == Fixture.statusEvents.size + 1, "10 row events + 1 relation line")
    // strict LSN interleave, no collisions with students' ≡0 (mod 16) LSNs
    assert(Fixture.statusEvents.map(_.lsn).toSet
      .intersect(Fixture.rowEvents.map(_.lsn).toSet).isEmpty)
  }

  test("unionSchema merges images, widens numerics within a family, and refuses incompatible clashes") {
    val newStruct = union("new").dataType.asInstanceOf[StructType]
    assert(newStruct.fieldNames.toSet ==
      Set("id", "first_name", "last_name", "date_of_birth", "status_id", "value"))
    // same-named key unifies (both long here); a numeric clash widens
    val widened = Envelope.unionSchema(Seq(
      Envelope.statusRelation,
      Envelope.Relation("counters", StructType(Seq(
        StructField("id", IntegerType), StructField("n", LongType))))))
    assert(widened("new").dataType.asInstanceOf[StructType]("id").dataType == LongType)
    // an incompatible clash (string vs long id) fails at registry build
    val e = intercept[IllegalArgumentException] {
      Envelope.unionSchema(Seq(
        Envelope.statusRelation,
        Envelope.Relation("tags", StructType(Seq(
          StructField("id", StringType), StructField("label", StringType))))))
    }
    assert(e.getMessage.contains("incompatible types"), e.getMessage)
  }

  test("projectRelation refuses a narrowing cast from the union-widened read type") {
    // when two relations share a field name and one declares the
    // narrower numeric type, the union READ schema widens (pinned
    // above) — but projecting the narrow relation would cast back
    // down, wrapping out-of-range values silently with ANSI off.
    // Refuse at plan build; the fix is declaring the unified type.
    val counters = Envelope.Relation("counters", StructType(Seq(
      StructField("id", IntegerType), StructField("n", LongType))))
    val widened = Envelope.unionSchema(Seq(Envelope.statusRelation, counters))
    val df = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], widened)
    // the relation declaring the unified type still projects fine
    Envelope.projectRelation(df.filter(col("table") === "status"), Envelope.statusRelation)
    val e = intercept[IllegalArgumentException] {
      Envelope.projectRelation(df.filter(col("table") === "counters"), counters)
    }
    assert(e.getMessage.contains("narrowing") && e.getMessage.contains("unified type"),
      e.getMessage)
  }

  test("a relation rename to engine bookkeeping ('__rn') is refused, not silently clobbered by the fold") {
    // lastImageByKey injects a '__rn' row-number column; a Relation
    // rename mapping a payload field onto that name would pass the
    // lsn/tag guard and then be silently REPLACED by the fold — the
    // field's data vanishing from final state with no error.
    val rel = Envelope.Relation("students", Envelope.studentsRelation.image,
      renames = Map("first_name" -> "__rn"))
    val df = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], union)
    val e = intercept[IllegalArgumentException](Envelope.projectRelation(df, rel))
    assert(e.getMessage.contains("__rn"), e.getMessage)
    // and lastImageByKey itself refuses a pre-existing '__rn' input
    import spark.implicits._
    val clash = Seq((1L, "0/10", "insert", "x")).toDF("id", "lsn", "tag", "__rn")
    val e2 = intercept[IllegalArgumentException](Envelope.lastImageByKey(clash))
    assert(e2.getMessage.contains("__rn"), e2.getMessage)
  }

  test("projectRelation(students) under the union schema equals the authoritative single-table projection") {
    val mixed = spark.read.schema(union).json(
      writeLines(Fixture.multiTableJsonLines))
    val viaRelation = Envelope.projectRelation(
      mixed.filter(col("table") === "students"), Envelope.studentsRelation)
    val viaProject = Envelope.project(
      spark.read.schema(Envelope.schema).json(Fixture.materialize()))
    assert(viaRelation.columns.toSeq == viaProject.columns.toSeq)
    assert(viaRelation.exceptAll(viaProject).isEmpty &&
      viaProject.exceptAll(viaRelation).isEmpty,
      "registry projection must reproduce the hand-written students mapping")
  }

  test("materializeCdcTables (ordered): one mixed stream lands one consistent state table per relation") {
    // one input on each side of the driver-rows bound: the fixture's
    // small batches are collected and applied from driver rows; at a
    // threshold of -1 every batch takes the persisted path
    for (threshold <- Seq(None, Some("-1"))) withBroadcastThreshold(threshold) {
      val in = Fixture.materializeMultiTableChunks(5)
      val ckpt = java.nio.file.Files.createTempDirectory("graft_mt_ckpt").toString
      val root = java.nio.file.Files.createTempDirectory("graft_mt_state").toString
      Streams.materializeCdcTables(
        Streams.envelopeStream(spark, in, schema = union), ckpt, root, relations)
        .awaitTermination()
      quiesce()
      val students = spark.read.parquet(s"$root/students")
      val status = spark.read.parquet(s"$root/status")
      assert(collectStudents(students) == studentsFinal,
        s"students state must equal the students-only sequential fold (threshold $threshold)")
      assert(collectStatus(status) == statusFinal,
        s"status state must equal the status-only sequential fold (threshold $threshold)")
      // no cross-contamination: status state has exactly its own columns
      assert(status.columns.toSet == Set("id", "value"))
      assert(students.columns.toSet ==
        Set("id", "firstName", "lastName", "dateOfBirth", "status"))
      // restart on the same checkpoint: no new data, both states unchanged
      val before = (students.orderBy("id").collect().toSeq,
        status.orderBy("id").collect().toSeq)
      Streams.materializeCdcTables(
        Streams.envelopeStream(spark, in, schema = union), ckpt, root, relations)
        .awaitTermination()
      quiesce()
      assert((spark.read.parquet(s"$root/students").orderBy("id").collect().toSeq,
        spark.read.parquet(s"$root/status").orderBy("id").collect().toSeq) == before)
    }
    // a third input: an unregistered relation, refused from driver rows
    // (the stray-name sample reads the collected batch) and still named
    val in = Fixture.materializeMultiTableChunks(3)
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streams.materializeCdcTables(
        Streams.envelopeStream(spark, in, schema = union),
        java.nio.file.Files.createTempDirectory("graft_mt_stray_ckpt").toString,
        java.nio.file.Files.createTempDirectory("graft_mt_stray_state").toString,
        Seq(Envelope.statusRelation)) // students NOT registered
        .awaitTermination()
    }
    def msgs(t: Throwable): String = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString("\n")
    assert(msgs(failed).contains("unregistered table(s) 'students'"), msgs(failed))
    quiesce()
  }

  test("a first state write: driver rows land one file, a persisted batch keeps its reduce's partitions") {
    // The one-file coalesce covers only outputs that read files and
    // driver rows. Over the bound the output reads the persisted batch,
    // and a coalesce there would collapse the reduce after its shuffle
    // into one task; it must keep the shuffle's partitions (4 here, with
    // AQE's partition coalescing off so the small fixture is not folded
    // to one partition by AQE itself).
    withConf("spark.sql.adaptive.coalescePartitions.enabled", Some("false")) {
      for ((threshold, oneFile) <- Seq((None, true), (Some("-1"), false)))
        withBroadcastThreshold(threshold) {
          val in = Fixture.materializeMultiTableChunks(1)
          val root = java.nio.file.Files.createTempDirectory("graft_mt_first_state").toString
          Streams.materializeCdcTables(
            Streams.envelopeStream(spark, in, schema = union),
            java.nio.file.Files.createTempDirectory("graft_mt_first_ckpt").toString,
            root, relations).awaitTermination()
          quiesce()
          val files = new java.io.File(s"$root/students").listFiles()
            .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          if (oneFile) assert(files == 1, s"threshold $threshold: driver rows wrote $files files")
          else assert(files > 1, s"threshold $threshold: the first over-bound write ran " +
            s"$files write task(s); the reduce's 4 shuffle partitions must each write")
          assert(collectStudents(spark.read.parquet(s"$root/students")) == studentsFinal)
        }
    }
  }

  test("materializeCdcTables (CAS): reverse-order delivery of the mixed stream still converges per relation") {
    import java.nio.file.Files
    val lines = Fixture.multiTableJsonLines
    val chunks = lines.grouped(math.max(1, lines.size / 5)).toVector
    val dir = Files.createTempDirectory("graft_mtcas_in")
    val t0 = System.currentTimeMillis() - 2000L * (chunks.size + 1)
    chunks.indices.reverse.zipWithIndex.foreach { case (ci, pos) =>
      val f = dir.resolve(f"chunk_$ci%04d.jsonl")
      Files.write(f, chunks(ci).mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f.toFile.setLastModified(t0 + pos * 2000L)
    }
    val ckpt = Files.createTempDirectory("graft_mtcas_ckpt").toString
    val root = Files.createTempDirectory("graft_mtcas_state").toString
    Streams.materializeCdcTables(
      Streams.envelopeStream(spark, dir.toString, schema = union), ckpt, root, relations,
      orderedTransport = false).awaitTermination()
    quiesce()
    assert(collectStudents(Streams.cdcLiveState(spark, s"$root/students")) ==
      studentsFinal)
    assert(collectStatus(Streams.cdcLiveState(spark, s"$root/status")) == statusFinal,
      "per-relation LSN CAS must converge under reversed mixed delivery")
  }

  test("negative pin: a single-table materializer fed the mixed stream fails loudly, it does not merge keys across relations") {
    val in = Fixture.materializeMultiTableChunks(3)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_mtneg_ckpt").toString
    val state = java.nio.file.Files.createTempDirectory("graft_mtneg_state").toString + "/students"
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streams.materializeCdc(
        Streams.envelopeStream(spark, in, schema = union), ckpt, state)
        .awaitTermination()
    }
    def msgs(t: Throwable): String = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString("\n")
    assert(msgs(failed).contains("materializes ONE relation") &&
      msgs(failed).contains("status") && msgs(failed).contains("students") &&
      msgs(failed).contains("materializeCdcTables"), msgs(failed))
  }

  test("negative pin: the JDBC single-table materializer also refuses the mixed stream") {
    // every single-table materializer refuses, and points the user at
    // ITS OWN multi-table twin — not a sibling of the other sink kind
    val in = Fixture.materializeMultiTableChunks(3)
    val url = "jdbc:derby:memory:graft_mtnegj;create=true"
    def dir(prefix: String) = java.nio.file.Files.createTempDirectory(prefix).toString
    type Start = (org.apache.spark.sql.DataFrame, String) => org.apache.spark.sql.streaming.StreamingQuery
    val cases: Seq[(String, String, Start)] = Seq(
      ("materializeCdc", "materializeCdcTables",
        (s, ck) => Streams.materializeCdc(s, ck, dir("graft_mtneg_state") + "/students")),
      ("materializeScd2", "materializeScd2Tables",
        (s, ck) => Streams.materializeScd2(s, ck, dir("graft_mtneg_state") + "/students")),
      ("materializeCdcJdbc", "materializeCdcJdbcTables",
        (s, ck) => Streams.materializeCdcJdbc(s, ck, url, "students_live")),
      ("materializeScd2Jdbc", "materializeScd2JdbcTables",
        (s, ck) => Streams.materializeScd2Jdbc(s, ck, url, "students_hist")))
    def msgs(t: Throwable): String = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString("\n")
    for ((alias, twin, start) <- cases) {
      val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        start(Streams.envelopeStream(spark, in, schema = union), dir("graft_mtnegj_ckpt"))
          .awaitTermination()
      }
      assert(msgs(failed).contains(s"$alias materializes ONE relation") &&
        msgs(failed).contains(s"must go through $twin,"), s"$alias:\n${msgs(failed)}")
      quiesce()
    }
  }

  test("negative pin: an unregistered relation in the stream fails the demux loudly instead of dropping its events") {
    val in = Fixture.materializeMultiTableChunks(3)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_mtstray_ckpt").toString
    val root = java.nio.file.Files.createTempDirectory("graft_mtstray_state").toString
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streams.materializeCdcTables(
        Streams.envelopeStream(spark, in, schema = union), ckpt, root,
        Seq(Envelope.studentsRelation)) // status NOT registered
        .awaitTermination()
    }
    def msgs(t: Throwable): String = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString("\n")
    assert(msgs(failed).contains("unregistered table") &&
      msgs(failed).contains("status"), msgs(failed))
  }

  test("negative pin: a row event whose table is NULL fails the demux loudly and is named '<null>'") {
    import java.nio.file.Files
    val src = Files.createTempDirectory("graft_mtnull_in")
    val ckpt = Files.createTempDirectory("graft_mtnull_ckpt").toString
    val root = Files.createTempDirectory("graft_mtnull_state").toString
    Files.write(src.resolve("chunk_0000.jsonl"), Seq(
      """{"lsn": "0/00000010", "tag": "insert", "table": "students", "new": {"id": 1, "first_name": "a", "last_name": "b", "date_of_birth": "1990-01-01", "status_id": 1}}""",
      """{"lsn": "0/00000018", "tag": "insert", "table": null, "new": {"id": 2, "value": "active"}}""")
      .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streams.materializeCdcTables(
        Streams.envelopeStream(spark, src.toString, schema = union), ckpt, root, relations)
        .awaitTermination()
    }
    def msgs(t: Throwable): String = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString("\n")
    assert(msgs(failed).contains("unregistered table(s) '<null>'"), msgs(failed))
    quiesce()
  }

  test("a single-table materializer ignores a NULL table name but counts its row events") {
    // the NULL-named event neither names a second relation nor goes
    // uncounted: a batch holding only such events still applies
    import java.nio.file.Files
    val src = Files.createTempDirectory("graft_stnull_in")
    val ckpt = Files.createTempDirectory("graft_stnull_ckpt").toString
    val state = Files.createTempDirectory("graft_stnull_state").toString + "/students"
    val now = System.currentTimeMillis()
    def student(lsn: String, table: String, id: Long) =
      s"""{"lsn": "$lsn", "tag": "insert", "table": $table, "new": {"id": $id, "first_name": "fn$id", "last_name": "ln$id", "date_of_birth": "1990-01-01", "status_id": 1}}"""
    def writeChunk(name: String, mtime: Long, lines: String*): Unit = {
      val f = src.resolve(name)
      Files.write(f, lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f.toFile.setLastModified(mtime)
    }
    writeChunk("chunk_0000.jsonl", now - 60000L,
      student("0/00000010", "\"students\"", 1L), student("0/00000020", "null", 2L))
    writeChunk("chunk_0001.jsonl", now - 30000L, student("0/00000030", "null", 3L))
    Streams.materializeCdc(
      Streams.envelopeStream(spark, src.toString, schema = union), ckpt, state)
      .awaitTermination()
    quiesce()
    assert(spark.read.parquet(state).select("id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L), "every row event lands, NULL-named ones included")
    assert(new String(Files.readAllBytes(java.nio.file.Paths.get(ckpt, "graft_source_table")),
      java.nio.charset.StandardCharsets.UTF_8).trim == "students",
      "the checkpoint binds the one non-NULL table name")
  }

  test("materializeCdcJdbcTables (ordered): the mixed stream lands one queryable Derby table per relation") {
    // one input on each side of the driver-rows bound (threshold -1:
    // every batch persisted); both must equal the same folds
    for (threshold <- Seq(None, Some("-1"))) withBroadcastThreshold(threshold) {
      val sinkUrl = s"jdbc:derby:memory:graft_mtjdbc${threshold.fold("")(_ => "_m1")};create=true"
      val in = Fixture.materializeMultiTableChunks(4)
      val ckpt = java.nio.file.Files.createTempDirectory("graft_mtjdbc_ckpt").toString
      Streams.materializeCdcJdbcTables(
        Streams.envelopeStream(spark, in, schema = union), ckpt, sinkUrl, relations,
        tableNames = n => s"live_$n").awaitTermination()
      quiesce()
      val students = graft.sources.Jdbc.snapshot(spark, sinkUrl, "live_students")
      val status = graft.sources.Jdbc.snapshot(spark, sinkUrl, "live_status")
      assert(collectStudents(students) == studentsFinal, s"threshold $threshold")
      assert(collectStatus(status) == statusFinal, s"threshold $threshold")
      // lost-commit replay is a per-relation no-op (idempotent applies)
      val commitsDir = new java.io.File(ckpt, "commits")
      val newest = commitsDir.listFiles().filterNot(_.getName.startsWith("."))
        .maxBy(_.getName.toLong)
      assert(newest.delete())
      new java.io.File(commitsDir, s".${newest.getName}.crc").delete()
      Streams.materializeCdcJdbcTables(
        Streams.envelopeStream(spark, in, schema = union), ckpt, sinkUrl, relations,
        tableNames = n => s"live_$n").awaitTermination()
      quiesce()
      assert(collectStudents(
        graft.sources.Jdbc.snapshot(spark, sinkUrl, "live_students")) ==
        studentsFinal)
      assert(collectStatus(
        graft.sources.Jdbc.snapshot(spark, sinkUrl, "live_status")) == statusFinal,
        s"replaying the lost batch must be a no-op on every relation's table (threshold $threshold)")
    }
  }

  test("materializeCdcJdbcTables (CAS): reversed mixed delivery converges per relation in SQL state") {
    import java.nio.file.Files
    val sinkUrl = "jdbc:derby:memory:graft_mtjdbccas;create=true"
    val lines = Fixture.multiTableJsonLines
    val chunks = lines.grouped(math.max(1, lines.size / 4)).toVector
    val dir = Files.createTempDirectory("graft_mtjcas_in")
    val t0 = System.currentTimeMillis() - 2000L * (chunks.size + 1)
    chunks.indices.reverse.zipWithIndex.foreach { case (ci, pos) =>
      val f = dir.resolve(f"chunk_$ci%04d.jsonl")
      Files.write(f, chunks(ci).mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f.toFile.setLastModified(t0 + pos * 2000L)
    }
    val ckpt = Files.createTempDirectory("graft_mtjcas_ckpt").toString
    Streams.materializeCdcJdbcTables(
      Streams.envelopeStream(spark, dir.toString, schema = union), ckpt, sinkUrl, relations,
      tableNames = n => s"cas_$n", orderedTransport = false).awaitTermination()
    quiesce()
    assert(collectStudents(
      Streams.cdcLiveStateJdbc(spark, sinkUrl, "cas_students")) ==
      studentsFinal)
    assert(collectStatus(
      Streams.cdcLiveStateJdbc(spark, sinkUrl, "cas_status")) == statusFinal)
  }

  test("multi-table snapshot-then-stream: per-table JDBC snapshots seed per-relation states, stream wins on overlap, deletes drop snapshot keys") {
    // the initial-load shape of a FOR ALL TABLES subscription: one
    // JDBC snapshot per relation unioned ahead of the demuxed stream
    val murl = "jdbc:derby:memory:graft_ms_seed;create=true"
    val c = java.sql.DriverManager.getConnection(murl)
    try {
      val st = c.createStatement()
      st.executeUpdate(
        """CREATE TABLE students_ms (id BIGINT PRIMARY KEY, first_name VARCHAR(64),
          |  last_name VARCHAR(64), date_of_birth DATE, status_id INT)""".stripMargin)
      st.executeUpdate("INSERT INTO students_ms VALUES (0, 'Snap', 'Zero', '1970-01-01', 1)")
      st.executeUpdate("INSERT INTO students_ms VALUES (1000, 'Snap', 'Only', '1970-01-01', 1)")
      st.executeUpdate("CREATE TABLE status_ms (id BIGINT PRIMARY KEY, value VARCHAR(64))")
      st.executeUpdate("INSERT INTO status_ms VALUES (1, 'seed-active')")   // stream updates
      st.executeUpdate("INSERT INTO status_ms VALUES (3, 'seed-pending')")  // stream DELETES
      st.executeUpdate("INSERT INTO status_ms VALUES (1000, 'seed-only')")  // untouched
      st.close()
    } finally c.close()
    val env = spark.read.schema(union).json(writeLines(Fixture.multiTableJsonLines))
    val snaps = Map(
      "students" -> graft.sources.Jdbc.snapshot(spark, murl, "students_ms")
        .select(col("ID").as("id"), col("FIRST_NAME").as("firstName"),
          col("LAST_NAME").as("lastName"),
          col("DATE_OF_BIRTH").cast("date").as("dateOfBirth"),
          col("STATUS_ID").as("status")),
      "status" -> graft.sources.Jdbc.snapshot(spark, murl, "status_ms")
        .select(col("ID").as("id"), col("VALUE").as("value")))
    val states = Streams.snapshotThenStreamTables(env, relations, snaps)
    // students: stream-final images win; snapshot-only id 1000 survives
    val students = collectStudents(states("students"))
    val expectStudents = studentsFinal +
      (1000L -> (("Snap", "Only", "1970-01-01", 1)))
    assert(studentsFinal.contains(0L) || !students.contains(0L),
      "fixture precondition: id 0 is stream-touched")
    assert(students == expectStudents,
      "stream images must win for touched keys; snapshot-only keys keep the JDBC image")
    // status: updates win (1 -> 'enabled', not 'seed-active'), the
    // stream's delete of id 3 drops the snapshot row, 1000 survives
    val status = collectStatus(states("status"))
    assert(status == statusFinal + (1000L -> "seed-only"), status.toString)
    assert(!status.contains(3L),
      "a stream delete must drop the snapshot image, not resurrect it")
    assert(status(1L) == "enabled" && statusFinal(1L) == "enabled",
      "overlap keys take the stream's final image over the seed value")
  }

  test("q49 oracle query matches the per-relation folds and broadcasts the status side") {
    val df = graft.queries.Curation.q49.fn(spark, sf)
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // independent expectation: join the two folds directly
    val expected = studentsFinal.values.map(_._4.toLong)
      .groupBy(identity).view
      .flatMap { case (sid, xs) => statusFinal.get(sid).map(_ -> xs.size.toLong) }
      .toMap
    assert(got == expected, s"got $got expected $expected")
    assert(got.values.sum > 0, "fixture precondition: live students reference live statuses")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the handful-of-rows status side must broadcast, not shuffle the students side:\n$plan")
  }

  test("a crash BETWEEN relation applies aborts the batch; replay re-lands the applied relation as a no-op and completes the rest") {
    import java.nio.file.Files
    import org.apache.hadoop.fs.Path
    // The demux applies relations sequentially inside one foreachBatch:
    // students swaps first, then status. Fail status's swap rename —
    // students has ALREADY swapped for this batch. The claim under
    // test: the batch aborts before its checkpoint commit, and the
    // replay merges students' identical change set idempotently while
    // completing status — per-relation exactly-once-equivalence from
    // one shared checkpoint.
    spark.sparkContext.hadoopConfiguration
      .set("fs.failfs.impl", classOf[FailOnceFs].getName)
    val src = Files.createTempDirectory("graft_mtcrash_in")
    val lines = Fixture.multiTableJsonLines
    val (phase1, phase2) = lines.splitAt(lines.size / 2)
    val now = System.currentTimeMillis()
    def writeChunk(name: String, ls: Seq[String], mtime: Long): Unit = {
      val f = src.resolve(name)
      Files.write(f, ls.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f.toFile.setLastModified(mtime)
    }
    writeChunk("chunk_0000.jsonl", phase1, now - 60000L)
    val ckpt = Files.createTempDirectory("graft_mtcrash_ckpt").toString
    val rootDir = Files.createTempDirectory("graft_mtcrash_state").toString
    val root = s"failfs://$rootDir"
    def commits: Seq[String] =
      Option(new java.io.File(ckpt, "commits").list()).map(_.toSeq).getOrElse(Seq.empty)
        .filterNot(_.startsWith(".")).sorted
    Streams.materializeCdcTables(
      Streams.envelopeStream(spark, src.toString, schema = union), ckpt, root, relations)
      .awaitTermination()
    quiesce()
    assert(commits == Seq("0"))
    writeChunk("chunk_0001.jsonl", phase2, now - 30000L)
    FailOnceFs.armedDstName.set("status") // second relation's swap fails
    try {
      val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        Streams.materializeCdcTables(
          Streams.envelopeStream(spark, src.toString, schema = union), ckpt, root, relations)
          .awaitTermination()
      }
      def msgs(t: Throwable): String = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString("\n")
      assert(msgs(failed).contains("returned false"), msgs(failed))
    } finally FailOnceFs.armedDstName.set(null)
    quiesce()
    assert(commits == Seq("0"), "the half-applied batch must NOT reach its checkpoint commit")
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new Path(s"$root/students")),
      "crash point: the first relation's swap already landed")
    assert(!fs.exists(new Path(s"$root/status")),
      "crash point: the second relation's state is renamed aside mid-swap")
    // restart, fault cleared: students replays as a no-op, status completes
    Streams.materializeCdcTables(
      Streams.envelopeStream(spark, src.toString, schema = union), ckpt, root, relations)
      .awaitTermination()
    quiesce()
    assert(commits == Seq("0", "1"))
    assert(collectStudents(spark.read.parquet(s"$root/students")) ==
      studentsFinal,
      "replay onto the already-swapped students state must be idempotent")
    assert(collectStatus(spark.read.parquet(s"$root/status")) == statusFinal,
      "the failed relation must complete on replay")
    assert(new java.io.File(rootDir).list().toSeq.sorted == Seq("status", "students"),
      "recovery must sweep swap/prev artifacts for both relations")
  }

  test("a relation keyed on a non-'id' column demuxes and merges on ITS key end-to-end") {
    import java.nio.file.Files
    // the key parameter threads projectRelation -> reduceBatch ->
    // Merge; every shipped relation keys on 'id', so pin the
    // parameterization with a string-keyed 'tags' relation
    val tags = Envelope.Relation("tags", StructType(Seq(
      StructField("code", StringType),
      StructField("label", StringType))), key = "code")
    val rels = Seq(tags)
    val schema = Envelope.unionSchema(rels)
    val src = Files.createTempDirectory("graft_key_in")
    val lines = Seq(
      """{"lsn": "0/10", "tag": "insert", "table": "tags", "new": {"code": "a", "label": "alpha"}}""",
      """{"lsn": "0/20", "tag": "insert", "table": "tags", "new": {"code": "b", "label": "beta"}}""",
      """{"lsn": "0/30", "tag": "update", "table": "tags", "new": {"code": "a", "label": "alef"}}""",
      """{"lsn": "0/40", "tag": "delete", "table": "tags", "old": {"code": "b"}}""",
      """{"lsn": "0/50", "tag": "insert", "table": "tags", "new": {"code": "c", "label": "gamma"}}""")
    Files.write(src.resolve("chunk_0000.jsonl"),
      lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val ckpt = Files.createTempDirectory("graft_key_ckpt").toString
    val root = Files.createTempDirectory("graft_key_state").toString
    Streams.materializeCdcTables(
      Streams.envelopeStream(spark, src.toString, schema = schema), ckpt, root, rels)
      .awaitTermination()
    quiesce()
    val got = spark.read.parquet(s"$root/tags").collect()
      .map(r => r.getString(r.fieldIndex("code")) -> r.getString(r.fieldIndex("label"))).toMap
    assert(got == Map("a" -> "alef", "c" -> "gamma"),
      s"update wins by LSN on the string key, delete drops by old.code: $got")
    // JDBC twin: same relation, same key, queryable table
    val url = "jdbc:derby:memory:graft_key_jdbc;create=true"
    val ckpt2 = Files.createTempDirectory("graft_key_ckpt2").toString
    Streams.materializeCdcJdbcTables(
      Streams.envelopeStream(spark, src.toString, schema = schema), ckpt2, url, rels)
      .awaitTermination()
    quiesce()
    val jgot = graft.sources.Jdbc.snapshot(spark, url, "tags").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(jgot == Map("a" -> "alef", "c" -> "gamma"), jgot.toString)
  }

  test("additive-drift restart (parquet): the widened relation's state gains the column with null-filled history, the sibling is untouched") {
    import java.nio.file.Files
    // the reference's 'relation' message carries schema changes
    // (customMapper.ts:12-13 filters it); our declared consumer
    // reaction is a restart with the ONE affected relation's image
    // widened. The composition under test: registry-driven projection
    // of the new field + per-relation state widening, while the
    // sibling relation's state and schema stay byte-identical.
    val src = Files.createTempDirectory("graft_mtdrift_in")
    val ckpt = Files.createTempDirectory("graft_mtdrift_ckpt").toString
    val root = Files.createTempDirectory("graft_mtdrift_state").toString
    val now = System.currentTimeMillis()
    def writeChunk(name: String, mtime: Long, lines: String*): Unit = {
      val f = src.resolve(name)
      Files.write(f, lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f.toFile.setLastModified(mtime)
    }
    def student(lsn: String, id: Long, fn: String, email: Option[String] = None) = {
      val extra = email.map(e => s""", "email": "$e"""").getOrElse("")
      s"""{"lsn": "$lsn", "tag": "insert", "table": "students", "new": {"id": $id, "first_name": "$fn", "last_name": "ln$id", "date_of_birth": "1990-01-01", "status_id": 1$extra}}"""
    }
    def status(lsn: String, id: Long, v: String) =
      s"""{"lsn": "$lsn", "tag": "insert", "table": "status", "new": {"id": $id, "value": "$v"}}"""
    // batch 0, pre-drift: two students, one status
    writeChunk("chunk_0000.jsonl", now - 60000L,
      student("0/00000010", 1L, "one"), student("0/00000020", 2L, "two"),
      status("0/00000018", 1L, "active"))
    Streams.materializeCdcTables(
      Streams.envelopeStream(spark, src.toString, schema = union), ckpt, root, relations)
      .awaitTermination()
    quiesce()
    val statusFilesBefore = new java.io.File(s"$root/status").listFiles()
      .map(f => f.getName -> f.lastModified()).toSeq.sorted
    // producer ALTER TABLE students ADD email -> restart with ONE
    // relation's image widened; the sibling registration is unchanged
    val widenedStudents = Envelope.studentsRelation.copy(
      image = Envelope.studentsRelation.image.add("email", StringType))
    val widenedRels = Seq(widenedStudents, Envelope.statusRelation)
    val widenedUnion = Envelope.unionSchema(widenedRels)
    writeChunk("chunk_0001.jsonl", now - 30000L,
      student("0/00000030", 1L, "one2", Some("one@x")), // pre-drift key takes the new column
      student("0/00000040", 3L, "three", Some("three@x")),
      status("0/00000038", 2L, "disabled"))             // sibling keeps applying normally
    Streams.materializeCdcTables(
      Streams.envelopeStream(spark, src.toString, schema = widenedUnion), ckpt, root, widenedRels)
      .awaitTermination()
    quiesce()
    val students = spark.read.parquet(s"$root/students")
    assert(students.columns.toSet ==
      Set("id", "firstName", "lastName", "dateOfBirth", "status", "email"),
      "the widened relation's state must gain the drifted column")
    val byId = students.collect().map(r => r.getLong(r.fieldIndex("id")) ->
      (r.getString(r.fieldIndex("firstName")),
        Option(r.getString(r.fieldIndex("email"))))).toMap
    assert(byId == Map(
      1L -> (("one2", Some("one@x"))),   // post-drift update carries it
      2L -> (("two", None)),             // untouched pre-drift history null-fills
      3L -> (("three", Some("three@x")))), byId.toString)
    val statusState = spark.read.parquet(s"$root/status")
    assert(statusState.columns.toSet == Set("id", "value"),
      "the sibling relation's schema must NOT widen")
    assert(collectStatus(statusState) == Map(1L -> "active", 2L -> "disabled"))
    // and the sibling's batch-0 parquet was appended to, never
    // rewritten under a drifted schema: its state dir still holds a
    // consistent two-column table (checked above) with batch-1 work
    // limited to its own events
    assert(statusFilesBefore.nonEmpty)
  }

  test("additive-drift restart (JDBC): the widened relation's table gains the column, pre-drift rows read back NULL, the sibling is untouched") {
    import java.nio.file.Files
    val sinkUrl = "jdbc:derby:memory:graft_mtdrift_jdbc;create=true"
    val src = Files.createTempDirectory("graft_mtdriftj_in")
    val ckpt = Files.createTempDirectory("graft_mtdriftj_ckpt").toString
    val now = System.currentTimeMillis()
    def writeChunk(name: String, mtime: Long, lines: String*): Unit = {
      val f = src.resolve(name)
      Files.write(f, lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f.toFile.setLastModified(mtime)
    }
    def student(lsn: String, id: Long, fn: String, email: Option[String] = None) = {
      val extra = email.map(e => s""", "email": "$e"""").getOrElse("")
      s"""{"lsn": "$lsn", "tag": "insert", "table": "students", "new": {"id": $id, "first_name": "$fn", "last_name": "ln$id", "date_of_birth": "1990-01-01", "status_id": 1$extra}}"""
    }
    def status(lsn: String, id: Long, v: String) =
      s"""{"lsn": "$lsn", "tag": "insert", "table": "status", "new": {"id": $id, "value": "$v"}}"""
    writeChunk("chunk_0000.jsonl", now - 60000L,
      student("0/00000010", 1L, "one"), student("0/00000020", 2L, "two"),
      status("0/00000018", 1L, "active"))
    Streams.materializeCdcJdbcTables(
      Streams.envelopeStream(spark, src.toString, schema = union), ckpt, sinkUrl, relations,
      tableNames = n => s"drift_$n").awaitTermination()
    quiesce()
    val widenedStudents = Envelope.studentsRelation.copy(
      image = Envelope.studentsRelation.image.add("email", StringType))
    val widenedRels = Seq(widenedStudents, Envelope.statusRelation)
    val widenedUnion = Envelope.unionSchema(widenedRels)
    writeChunk("chunk_0001.jsonl", now - 30000L,
      student("0/00000030", 3L, "three", Some("three@x")),
      status("0/00000038", 2L, "disabled"))
    Streams.materializeCdcJdbcTables(
      Streams.envelopeStream(spark, src.toString, schema = widenedUnion), ckpt, sinkUrl, widenedRels,
      tableNames = n => s"drift_$n").awaitTermination()
    quiesce()
    val students = graft.sources.Jdbc.snapshot(spark, sinkUrl, "drift_students")
    assert(students.columns.map(_.toLowerCase).toSet ==
      Set("id", "firstname", "lastname", "dateofbirth", "status", "email"),
      "ensureTable must ALTER the widened relation's table additively")
    val byId = students.collect().map(r => r.getLong(r.fieldIndex("id")) ->
      Option(r.getString(r.fieldIndex("email")))).toMap
    assert(byId == Map(1L -> None, 2L -> None, 3L -> Some("three@x")),
      s"pre-drift rows must read back NULL in the widened column: $byId")
    val statusTbl = graft.sources.Jdbc.snapshot(spark, sinkUrl, "drift_status")
    assert(statusTbl.columns.map(_.toLowerCase).toSet == Set("id", "value"),
      "the sibling relation's table must NOT gain the column")
    assert(collectStatus(statusTbl) == Map(1L -> "active", 2L -> "disabled"))
  }

  test("concurrent relation applies (maxConcurrentRelations=2) converge to the same per-relation states") {
    // the scale path for FOR ALL TABLES catalogs: per-relation applies
    // are independent (disjoint state dirs, each idempotent), so they
    // may overlap — same folds must come out
    val in = Fixture.materializeMultiTableChunks(4)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_mtpar_ckpt").toString
    val root = java.nio.file.Files.createTempDirectory("graft_mtpar_state").toString
    Streams.materializeCdcTables(
      Streams.envelopeStream(spark, in, schema = union), ckpt, root, relations,
      maxConcurrentRelations = 2).awaitTermination()
    quiesce()
    assert(collectStudents(spark.read.parquet(s"$root/students")) ==
      studentsFinal)
    assert(collectStatus(spark.read.parquet(s"$root/status")) == statusFinal)
  }

  test("the stray guard rides the census job: a quiet micro-batch runs one aggregation, zero per-relation probe jobs") {
    import java.nio.file.Files
    // r10 nit: the guard was a SECOND per-batch job
    // (distinct().limit(5).collect()) on top of a per-relation
    // isEmpty probe each. Now one census aggregation materializes the
    // cache, answers the stray question, and tells the demux which
    // relations to skip — a batch touching nothing runs ONE action.
    val src = Files.createTempDirectory("graft_mtjobs_in")
    val ckpt = Files.createTempDirectory("graft_mtjobs_ckpt").toString
    val root = Files.createTempDirectory("graft_mtjobs_state").toString
    val now = System.currentTimeMillis()
    def writeChunk(name: String, mtime: Long, lines: String*): Unit = {
      val f = src.resolve(name)
      Files.write(f, lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f.toFile.setLastModified(mtime)
    }
    writeChunk("chunk_0000.jsonl", now - 60000L,
      """{"lsn": "0/00000010", "tag": "insert", "table": "students", "new": {"id": 1, "first_name": "a", "last_name": "b", "date_of_birth": "1990-01-01", "status_id": 1}}""",
      """{"lsn": "0/00000018", "tag": "insert", "table": "status", "new": {"id": 1, "value": "active"}}""")
    Streams.materializeCdcTables(
      Streams.envelopeStream(spark, src.toString, schema = union), ckpt, root, relations)
      .awaitTermination()
    quiesce()
    // second run processes ONLY the control-tag chunk: both relations
    // quiet, so the whole batch must cost exactly the census action
    writeChunk("chunk_0001.jsonl", now - 30000L,
      """{"lsn": "0/00000020", "tag": "begin", "table": null}""",
      """{"lsn": "0/00000028", "tag": "commit", "table": null}""")
    val jobs = jobsDuring {
      Streams.materializeCdcTables(
        Streams.envelopeStream(spark, src.toString, schema = union), ckpt, root, relations)
        .awaitTermination()
      quiesce()
    }
    assert(jobs == 1,
      s"a control-only micro-batch must cost only the census, one job " +
        s"(got $jobs jobs — per-relation probes, a dedicated stray job or an " +
        "aggregating census are back)")
    // and the states are untouched by the quiet batch
    assert(spark.read.parquet(s"$root/students").count() == 1L)
    assert(spark.read.parquet(s"$root/status").count() == 1L)
  }

  /** The busy two-relation micro-batch: batch 0 seeds three keys per
    * relation, then batch 1 — repeated updates of one key, a delete of a
    * live key and of an absent one, an insert, on both relations — runs
    * alone under `jobsDuring`. Returns its job count, each relation's
    * state-write plan, and the state root. */
  private def busyTwoRelationBatch(orderedTransport: Boolean)
      : (Int, Seq[(String, org.apache.spark.sql.execution.SparkPlan)], String) = {
    import java.nio.file.Files
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    val src = Files.createTempDirectory("graft_mtbusy_in")
    val ckpt = Files.createTempDirectory("graft_mtbusy_ckpt").toString
    val root = Files.createTempDirectory("graft_mtbusy_state").toString
    val now = System.currentTimeMillis()
    def writeChunk(name: String, mtime: Long, lines: String*): Unit = {
      val f = src.resolve(name)
      Files.write(f, lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f.toFile.setLastModified(mtime)
    }
    def student(lsn: String, tag: String, id: Long, fn: String) =
      s"""{"lsn": "$lsn", "tag": "$tag", "table": "students", "new": {"id": $id, "first_name": "$fn", "last_name": "ln$id", "date_of_birth": "1990-01-01", "status_id": 1}}"""
    def status(lsn: String, tag: String, id: Long, v: String) =
      s"""{"lsn": "$lsn", "tag": "$tag", "table": "status", "new": {"id": $id, "value": "$v"}}"""
    def delete(lsn: String, table: String, id: Long) =
      s"""{"lsn": "$lsn", "tag": "delete", "table": "$table", "old": {"id": $id}}"""
    def run(): Unit = {
      Streams.materializeCdcTables(
        Streams.envelopeStream(spark, src.toString, schema = union), ckpt, root, relations,
        orderedTransport = orderedTransport).awaitTermination()
      quiesce()
    }
    writeChunk("chunk_0000.jsonl", now - 60000L,
      student("0/00000010", "insert", 1L, "one"), student("0/00000020", "insert", 2L, "two"),
      student("0/00000030", "insert", 3L, "three"),
      status("0/00000018", "insert", 1L, "active"), status("0/00000028", "insert", 2L, "idle"),
      status("0/00000038", "insert", 3L, "gone"))
    run()
    writeChunk("chunk_0001.jsonl", now - 30000L,
      student("0/00000040", "update", 1L, "uno"), student("0/00000050", "update", 1L, "eins"),
      delete("0/00000060", "students", 2L), delete("0/00000070", "students", 9L),
      student("0/00000080", "insert", 4L, "four"),
      status("0/00000048", "update", 1L, "busy"), delete("0/00000058", "status", 3L),
      status("0/00000068", "insert", 4L, "new"))
    // AQE wraps the write command itself: the helper walks into the
    // final plan and its query stages
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkPlan)]()
    val qel = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = planHelper.foreach(qe.executedPlan) {
        case w @ DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _) =>
          writes.add(c.outputPath.getName.replaceAll("__swap_\\d+$", "") -> w)
        case _ =>
      }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(qel)
    val jobs = try jobsDuring(run()) finally spark.listenerManager.unregister(qel)
    (jobs, writes.toArray(Array.empty[(String, SparkPlan)]).toSeq, root)
  }

  private val planHelper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}

  test("a busy two-relation micro-batch: pinned job count, and one state scan + one broadcast per relation write") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    // Full images make the ordered MERGE `state ⋉̸ touched keys ∪
    // images`: per relation the write plan scans the state once. Within
    // the driver-rows bound the batch is collected once (the one job
    // that also answers the census), each relation reduces on the
    // driver and filters the state scan by its key set: no broadcast,
    // and the write is its only job. Over the bound (threshold -1) the
    // persisted shape stays: per relation one broadcast of the
    // pre-reduce touched keys, one reduce and the write. Both figures
    // are plan/scheduler facts, immune to host load.
    val inputs = Seq(
      (None, 3, 0, "the batch collect plus one write per relation"),
      (Some("-1"), 7, 1, "the one-job census plus, per relation, the touched-key broadcast, " +
        "the reduce's shuffle-map stage and the write"))
    for ((threshold, wantJobs, wantBroadcasts, why) <- inputs) {
      val (jobs, byRel, root) =
        withBroadcastThreshold(threshold)(busyTwoRelationBatch(orderedTransport = true))
      assert(jobs == wantJobs,
        s"threshold $threshold: a busy two-relation micro-batch ran $jobs jobs; $why run " +
          s"$wantJobs (the persisted shape runs 7 at any size; an inference job per state " +
          "read made 9; an aggregating census ran 3 jobs, for 11; the matched-join apply ran " +
          "23: three state scans and four broadcasts per relation)")
      assert(byRel.map(_._1).sorted == Seq("status", "students"),
        s"expected one state write per relation: ${byRel.map(_._1)}")
      for ((rel, plan) <- byRel) {
        val stateScans = planHelper.collect(plan) {
          case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.getName == rel) => s
        }
        val broadcasts = planHelper.collect(plan) { case b: BroadcastExchangeExec => b }
        assert(stateScans.size == 1 && broadcasts.size == wantBroadcasts,
          s"threshold $threshold, $rel: the write must scan the state once and build " +
            s"$wantBroadcasts broadcast(s) (got ${stateScans.size} scans, " +
            s"${broadcasts.size} broadcasts):\n$plan")
      }
      assert(collectStudents(spark.read.parquet(s"$root/students")) == Map(
        1L -> (("eins", "ln1", "1990-01-01", 1)), 3L -> (("three", "ln3", "1990-01-01", 1)),
        4L -> (("four", "ln4", "1990-01-01", 1))))
      assert(collectStatus(spark.read.parquet(s"$root/status")) ==
        Map(1L -> "busy", 2L -> "idle", 4L -> "new"))
    }
  }

  test("a busy two-relation micro-batch under orderedTransport = false: pinned job count") {
    // The CAS path keeps its merge shape on both sides of the bound:
    // per relation the windowed reduce, the versioned MERGE's pre-reduce
    // and broadcasts, and the write. Over driver rows those read the
    // collected batch (13 jobs); over the bound, the persisted one (19).
    for ((threshold, wantJobs) <- Seq((None, 13), (Some("-1"), 19))) {
      val (jobs, byRel, root) =
        withBroadcastThreshold(threshold)(busyTwoRelationBatch(orderedTransport = false))
      assert(jobs == wantJobs,
        s"threshold $threshold: a busy two-relation CAS micro-batch ran $jobs jobs, " +
          s"pinned at $wantJobs")
      assert(byRel.map(_._1).sorted == Seq("status", "students"))
      assert(collectStudents(Streams.cdcLiveState(spark, s"$root/students")) == Map(
        1L -> (("eins", "ln1", "1990-01-01", 1)), 3L -> (("three", "ln3", "1990-01-01", 1)),
        4L -> (("four", "ln4", "1990-01-01", 1))))
      assert(collectStatus(Streams.cdcLiveState(spark, s"$root/status")) ==
        Map(1L -> "busy", 2L -> "idle", 4L -> "new"))
    }
  }

  test("an IntegerType-keyed relation: a second busy batch with new keys compiles no new class") {
    import java.nio.file.Files
    import org.apache.spark.metrics.source.CodegenMetrics
    // An `In` over at most 400 int literals compiles a `switch` holding
    // them, so a key filter built from literals would compile a class
    // per micro-batch. The driver-side key set rides a reference object
    // instead: once warm, a busy batch with different keys compiles
    // nothing. Spark caches generated classes per class loader, and each
    // stream start clones the session (a new loader for driver-side
    // code), so the count compares two fresh streams over the same
    // prefix: one that ends after the first busy batch, one that runs
    // the second busy batch too. A first run warms the executor side.
    val counters = Envelope.Relation("counters", StructType(Seq(
      StructField("id", IntegerType), StructField("n", LongType))))
    val schema = Envelope.unionSchema(Seq(counters))
    var lsn = 0x10
    def event(tag: String, id: Int, n: Long): String = {
      lsn += 8
      val image = if (tag == "delete") s""""old": {"id": $id}""" else s""""new": {"id": $id, "n": $n}"""
      f"""{"lsn": "0/$lsn%08X", "tag": "$tag", "table": "counters", $image}"""
    }
    // batch 0 seeds keys 1..20; each busy batch updates, deletes and
    // inserts a key set of its own
    def busy(base: Int): Seq[String] =
      Seq(event("update", base + 1, 100L), event("update", base + 1, 101L),
        event("update", base + 2, 102L), event("delete", base + 3, 0L),
        event("insert", 100 + base, 103L))
    val chunks = Seq((1 to 20).map(k => event("insert", k, k.toLong)), busy(0), busy(10))
    /** Compiles while one fresh stream drains `n` chunks; its state root. */
    def stream(n: Int): (Long, String) = {
      val src = Files.createTempDirectory("graft_intkey_in")
      val ckpt = Files.createTempDirectory("graft_intkey_ckpt").toString
      val root = Files.createTempDirectory("graft_intkey_state").toString
      val t0 = System.currentTimeMillis() - 60000L
      chunks.take(n).zipWithIndex.foreach { case (lines, i) =>
        val f = src.resolve(f"chunk_$i%04d.jsonl")
        Files.write(f, lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        f.toFile.setLastModified(t0 + i * 2000L)
      }
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      Streams.materializeCdcTables(
        Streams.envelopeStream(spark, src.toString, schema = schema), ckpt, root, Seq(counters))
        .awaitTermination()
      quiesce()
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before, root)
    }
    stream(2)
    val (oneBusy, _) = stream(2)
    val (twoBusy, root) = stream(3)
    assert(twoBusy - oneBusy == 0,
      s"the second busy batch compiled ${twoBusy - oneBusy} new class(es) " +
        s"($oneBusy for seed + one busy batch, $twoBusy for seed + two)")
    val state = spark.read.parquet(s"$root/counters").collect()
      .map(r => r.getInt(r.fieldIndex("id")) -> r.getLong(r.fieldIndex("n"))).toMap
    val expected = (1 to 20).map(k => k -> k.toLong).toMap ++
      Map(1 -> 101L, 2 -> 102L, 11 -> 101L, 12 -> 102L, 100 -> 103L, 110 -> 103L) -- Seq(3, 13)
    assert(state == expected)
  }

  test("a busy parquet materializeScd2 micro-batch: pinned job count") {
    import java.nio.file.Files
    // The SCD2 twin of the busy two-relation pin, on one relation. The
    // history read takes its schema from a driver-side footer read, so
    // every job counted here is the batch's own work. Within the
    // driver-rows bound the first job is the batch collect; over it
    // (threshold -1) the first is the tally that fills the cache.
    def student(lsn: String, tag: String, id: Long, fn: String) =
      s"""{"lsn": "$lsn", "tag": "$tag", "table": "students", "new": {"id": $id, "first_name": "$fn", "last_name": "ln$id", "date_of_birth": "1990-01-01", "status_id": 1}}"""
    def delete(lsn: String, id: Long) =
      s"""{"lsn": "$lsn", "tag": "delete", "table": "students", "old": {"id": $id}}"""
    val inputs = Seq(
      (None, 12, "the batch collect"),
      (Some("-1"), 12, "the cache-filling tally"))
    for ((threshold, wantJobs, first) <- inputs) withBroadcastThreshold(threshold) {
      val src = Files.createTempDirectory("graft_scd2busy_in")
      val ckpt = Files.createTempDirectory("graft_scd2busy_ckpt").toString
      val state = Files.createTempDirectory("graft_scd2busy_state").toString + "/students"
      val now = System.currentTimeMillis()
      def writeChunk(name: String, mtime: Long, lines: String*): Unit = {
        val f = src.resolve(name)
        Files.write(f, lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        f.toFile.setLastModified(mtime)
      }
      def run(): Unit = {
        Streams.materializeScd2(Streams.envelopeStream(spark, src.toString), ckpt, state)
          .awaitTermination()
        quiesce()
      }
      writeChunk("chunk_0000.jsonl", now - 60000L,
        student("0/00000010", "insert", 1L, "one"), student("0/00000020", "insert", 2L, "two"),
        student("0/00000030", "insert", 3L, "three"))
      run()
      writeChunk("chunk_0001.jsonl", now - 30000L,
        student("0/00000040", "update", 1L, "uno"), student("0/00000050", "update", 1L, "eins"),
        delete("0/00000060", 2L), delete("0/00000070", 9L),
        student("0/00000080", "insert", 4L, "four"))
      val jobs = jobsDuring(run())
      assert(jobs == wantJobs,
        s"threshold $threshold: a busy materializeScd2 micro-batch ran $jobs jobs; with the " +
          s"history's schema read from a footer on the driver it runs $wantJobs, the first " +
          s"being $first (the history read's inference job made 13)")
      val live = Streams.scd2AsOfState(spark, state, Long.MaxValue).collect()
        .map(r => r.getLong(r.fieldIndex("id")) -> r.getString(r.fieldIndex("firstName"))).toMap
      assert(live == Map(1L -> "eins", 3L -> "three", 4L -> "four"))
      assert(spark.read.parquet(state).count() == 6L,
        "history: one, uno, eins for key 1; two (closed); three; four")
    }
  }

  test("a batch with no events for a relation skips that relation's state rewrite entirely") {
    import java.nio.file.Files
    val src = Files.createTempDirectory("graft_mtskip_in")
    val ckpt = Files.createTempDirectory("graft_mtskip_ckpt").toString
    val root = Files.createTempDirectory("graft_mtskip_state").toString
    val now = System.currentTimeMillis()
    def writeChunk(name: String, mtime: Long, lines: String*): Unit = {
      val f = src.resolve(name)
      Files.write(f, lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f.toFile.setLastModified(mtime)
    }
    def student(lsn: String, id: Long) =
      s"""{"lsn": "$lsn", "tag": "insert", "table": "students", "new": {"id": $id, "first_name": "fn$id", "last_name": "ln$id", "date_of_birth": "1990-01-01", "status_id": 1}}"""
    def status(lsn: String, id: Long, v: String) =
      s"""{"lsn": "$lsn", "tag": "insert", "table": "status", "new": {"id": $id, "value": "$v"}}"""
    // batch 0 touches both relations
    writeChunk("chunk_0000.jsonl", now - 60000L,
      student("0/00000010", 1L), status("0/00000018", 1L, "active"))
    Streams.materializeCdcTables(
      Streams.envelopeStream(spark, src.toString, schema = union), ckpt, root, relations)
      .awaitTermination()
    quiesce()
    def listing(rel: String): Seq[(String, Long)] = {
      val d = new java.io.File(s"$root/$rel")
      d.listFiles().map(f => f.getName -> f.lastModified()).toSeq.sorted
    }
    val statusBefore = listing("status")
    // batch 1 carries ONLY students events: the status state parquet
    // must not be rewritten (same files, same mtimes — quiet relations
    // must not pay the busy relation's write amplification)
    writeChunk("chunk_0001.jsonl", now - 30000L, student("0/00000020", 2L))
    Streams.materializeCdcTables(
      Streams.envelopeStream(spark, src.toString, schema = union), ckpt, root, relations)
      .awaitTermination()
    quiesce()
    assert(listing("status") == statusBefore,
      "an untouched relation's state files must be byte-identical, not rewritten")
    assert(collectStudents(spark.read.parquet(s"$root/students")).keySet == Set(1L, 2L),
      "the touched relation still advances")
  }

  test("a quiet relation's tombstones still age out: the periodic GC sweep reaches relations the census skips") {
    // The census-driven demux skips quiet relations entirely — which
    // also skips applyBatchJdbc's per-apply tombstone GC. Without the
    // sweep, a relation that takes deletes and then goes silent keeps
    // its tombstones past the retention horizon forever while its
    // siblings stay busy.
    import java.nio.file.Files
    val sinkUrl = "jdbc:derby:memory:graft_mt_quietgc;create=true"
    val src = Files.createTempDirectory("graft_mtqgc_in")
    val ckpt = Files.createTempDirectory("graft_mtqgc_ckpt").toString
    val now = System.currentTimeMillis()
    def writeChunk(name: String, mtime: Long, lines: String*): Unit = {
      val f = src.resolve(name)
      Files.write(f, lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f.toFile.setLastModified(mtime)
    }
    def student(lsn: String, id: Long, fn: String) =
      s"""{"lsn": "$lsn", "tag": "insert", "table": "students", "new": {"id": $id, "first_name": "$fn", "last_name": "ln$id", "date_of_birth": "1990-01-01", "status_id": 1}}"""
    def studentDelete(lsn: String, id: Long) =
      s"""{"lsn": "$lsn", "tag": "delete", "table": "students", "old": {"id": $id}}"""
    def status(lsn: String, id: Long, v: String) =
      s"""{"lsn": "$lsn", "tag": "insert", "table": "status", "new": {"id": $id, "value": "$v"}}"""
    def run(): Unit = {
      Streams.materializeCdcJdbcTables(
        Streams.envelopeStream(spark, src.toString, schema = union), ckpt, sinkUrl,
        relations, tableNames = n => s"qgc_$n", orderedTransport = false,
        casTombstoneRetention = 1L, casQuietGcEvery = 1L).awaitTermination()
      quiesce()
    }
    def studentTombstones(): Seq[Long] =
      graft.sources.Jdbc.snapshot(spark, sinkUrl, "qgc_students")
        .filter(col("op") === "D").collect()
        .map(r => r.getLong(r.fieldIndex("id"))).toSeq.sorted
    // batch 0: students takes an insert and a delete (tombstone stamped
    // 0), status an insert — then students goes permanently quiet
    writeChunk("chunk_0000.jsonl", now - 60000L,
      student("0/00000010", 1L, "one"), student("0/00000014", 2L, "two"),
      studentDelete("0/00000018", 1L), status("0/00000020", 1L, "active"))
    run()
    assert(studentTombstones() == Seq(1L),
      "the delete must land as a tombstone before the horizon passes")
    // batch 1 is a restart's FIRST batch (applies every relation; its
    // per-apply GC horizon 1-1=0 keeps stamp-0 tombstones). Batch 2 is
    // the steady state: students is quiet, the census skips it, and
    // ONLY the sweep (horizon 2-1=1 > stamp 0) can collect the
    // tombstone.
    writeChunk("chunk_0001.jsonl", now - 40000L, status("0/00000030", 2L, "pending"))
    writeChunk("chunk_0002.jsonl", now - 20000L, status("0/00000040", 3L, "closed"))
    run()
    assert(studentTombstones() == Seq.empty,
      "the periodic sweep must age out a quiet relation's expired tombstones")
    // the sweep deletes ONLY expired tombstones — live rows survive it
    val live = Streams.cdcLiveStateJdbc(spark, sinkUrl, "qgc_students")
      .collect().map(r => r.getLong(r.fieldIndex("id"))).toSeq.sorted
    assert(live == Seq(2L), s"live rows must survive the sweep: $live")
    assert(collectStatus(Streams.cdcLiveStateJdbc(spark, sinkUrl, "qgc_status")) ==
      Map(1L -> "active", 2L -> "pending", 3L -> "closed"))
  }

  test("relation names colliding with state-swap bookkeeping are refused at build") {
    // each relation's state dir sits next to its siblings, and crash
    // recovery sweeps `<state>__prev` / `<state>__swap_<batchId>`
    // siblings — a relation NAMED like another's bookkeeping would
    // have its entire state deleted by that sweep
    import java.nio.file.Files
    val src = Files.createTempDirectory("graft_collide_in").toString
    val ckpt = Files.createTempDirectory("graft_collide_ckpt").toString
    val root = Files.createTempDirectory("graft_collide_root").toString
    def rel(n: String) = Envelope.Relation(n, Envelope.statusRelation.image)
    for (bad <- Seq("t__prev", "t__swap_42")) {
      val e = intercept[IllegalArgumentException] {
        Streams.materializeCdcTables(
          Streams.envelopeStream(spark, src, schema = union), ckpt, root,
          Seq(rel("t"), rel(bad)))
      }
      assert(e.getMessage.contains(bad) && e.getMessage.contains("bookkeeping"), e.getMessage)
    }
    // a benign double-underscore name that is NOT another's bookkeeping passes the guard
    Streams.materializeCdcTables(
      Streams.envelopeStream(spark, src, schema = union), ckpt, root,
      Seq(rel("t"), rel("t__swap_backup"))).stop()
    quiesce()
  }

  test("a stream alternating ONE table per micro-batch is refused by the cross-batch table binding") {
    // per-table chunk files + maxFilesPerTrigger=1: every batch is
    // single-table, so the per-batch guard passes — but the stream as
    // a whole interleaves relations, and the single-table materializer
    // would merge keys across them. The checkpoint binds the first
    // observed table and refuses the switch.
    import java.nio.file.Files
    val src = Files.createTempDirectory("graft_altbind_in")
    val ckpt = Files.createTempDirectory("graft_altbind_ckpt").toString
    val state = Files.createTempDirectory("graft_altbind_state").toString + "/state"
    val now = System.currentTimeMillis()
    def writeChunk(name: String, mtime: Long, lines: String*): Unit = {
      val f = src.resolve(name)
      Files.write(f, lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f.toFile.setLastModified(mtime)
    }
    writeChunk("chunk_0000.jsonl", now - 60000L,
      s"""{"lsn": "0/00000010", "tag": "insert", "table": "students", "new": {"id": 1, "first_name": "a", "last_name": "b", "date_of_birth": "1990-01-01", "status_id": 1}}""")
    writeChunk("chunk_0001.jsonl", now - 30000L,
      s"""{"lsn": "0/00000020", "tag": "insert", "table": "status", "new": {"id": 1, "value": "active"}}""")
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streams.materializeCdc(
        Streams.envelopeStream(spark, src.toString, schema = union), ckpt, state)
        .awaitTermination()
    }
    def msgs(t: Throwable): String = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString("\n")
    assert(msgs(failed).contains("materializes relation 'students'") &&
      msgs(failed).contains("'status'"), msgs(failed))
    quiesce()
  }

  test("late-arriving relation: the failed batch is NOT lost — stop, register, restart replays it completely") {
    // The operational path for a table appearing in the slot AFTER the
    // consumer started (a producer CREATE TABLE under FOR ALL TABLES):
    // the census fails the batch loudly BEFORE any relation applies,
    // checkpoint-after-sink leaves that batch uncommitted, so the
    // runbook — stop, extend the registry, restart with the widened
    // union schema — replays the failed batch whole. The witness: the
    // new relation's events AND the sibling events interleaved in the
    // same failed batch all land; nothing is dropped, nothing doubles.
    import java.nio.file.Files
    val src = Files.createTempDirectory("graft_mtlate_in")
    val ckpt = Files.createTempDirectory("graft_mtlate_ckpt").toString
    val root = Files.createTempDirectory("graft_mtlate_state").toString
    val now = System.currentTimeMillis()
    def writeChunk(name: String, mtime: Long, lines: String*): Unit = {
      val f = src.resolve(name)
      Files.write(f, lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f.toFile.setLastModified(mtime)
    }
    def student(lsn: String, id: Long, fn: String) =
      s"""{"lsn": "$lsn", "tag": "insert", "table": "students", "new": {"id": $id, "first_name": "$fn", "last_name": "ln$id", "date_of_birth": "1990-01-01", "status_id": 1}}"""
    def status(lsn: String, id: Long, v: String) =
      s"""{"lsn": "$lsn", "tag": "insert", "table": "status", "new": {"id": $id, "value": "$v"}}"""
    def course(lsn: String, id: Long, title: String) =
      s"""{"lsn": "$lsn", "tag": "insert", "table": "courses", "new": {"id": $id, "title": "$title"}}"""

    // batch 0: registered relations only — applies clean
    writeChunk("chunk_0000.jsonl", now - 60000L,
      student("0/00000010", 1L, "one"), status("0/00000018", 1L, "active"))
    // batch 1: the late relation appears, interleaved with sibling events
    writeChunk("chunk_0001.jsonl", now - 30000L,
      student("0/00000020", 2L, "two"),
      course("0/00000028", 10L, "algorithms"),
      status("0/00000030", 2L, "inactive"))
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streams.materializeCdcTables(
        Streams.envelopeStream(spark, src.toString, schema = union), ckpt, root, relations)
        .awaitTermination()
    }
    quiesce()
    def msgs(t: Throwable): String = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString("\n")
    assert(msgs(failed).contains("unregistered table") && msgs(failed).contains("courses"),
      msgs(failed))
    // batch 0 committed, batch 1 did not touch ANY state (census runs
    // before the first relation apply — the batch fails atomically)
    assert(collectStudents(spark.read.parquet(s"$root/students")) ==
      Map(1L -> (("one", "ln1", "1990-01-01", 1))))
    assert(collectStatus(spark.read.parquet(s"$root/status")) == Map(1L -> "active"))
    assert(!new java.io.File(s"$root/courses").exists())

    // the runbook: extend the registry, restart on the SAME checkpoint
    // with the widened union schema
    val coursesRelation = Envelope.Relation("courses", StructType(Seq(
      StructField("id", LongType), StructField("title", StringType))))
    val extendedRels = relations :+ coursesRelation
    val extendedUnion = Envelope.unionSchema(extendedRels)
    Streams.materializeCdcTables(
      Streams.envelopeStream(spark, src.toString, schema = extendedUnion),
      ckpt, root, extendedRels).awaitTermination()
    quiesce()
    assert(collectStudents(spark.read.parquet(s"$root/students")) ==
      Map(1L -> (("one", "ln1", "1990-01-01", 1)), 2L -> (("two", "ln2", "1990-01-01", 1))),
      "the sibling events from the failed batch must land exactly once after restart")
    assert(collectStatus(spark.read.parquet(s"$root/status")) ==
      Map(1L -> "active", 2L -> "inactive"))
    val courses = spark.read.parquet(s"$root/courses")
    assert(courses.columns.toSet == Set("id", "title"))
    assert(courses.collect().map(r => r.getLong(r.fieldIndex("id")) ->
      r.getString(r.fieldIndex("title"))).toMap == Map(10L -> "algorithms"),
      "the late relation's events from the failed batch must land after registration")
  }

  private def writeLines(lines: Seq[String]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_mt_lines")
    val f = dir.resolve("all.jsonl")
    java.nio.file.Files.write(f,
      lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    f.toString
  }

  test("materializeScd2Tables: one mixed stream lands one consistent SCD2 history per relation") {
    // one input on each side of the driver-rows bound (threshold -1:
    // every batch persisted); both must equal the same folds
    for (threshold <- Seq(None, Some("-1"))) withBroadcastThreshold(threshold) {
      val in = Fixture.materializeMultiTableChunks(5)
      val ckpt = java.nio.file.Files.createTempDirectory("graft_mtscd_ckpt").toString
      val root = java.nio.file.Files.createTempDirectory("graft_mtscd_state").toString
      Streams.materializeScd2Tables(
        Streams.envelopeStream(spark, in, schema = union), ckpt, root, relations)
        .awaitTermination()
      quiesce()
      // each relation's streamed history == the batch SCD2 fold of ITS
      // events alone (the q50 parity convention, per relation)
      val mixed = spark.read.schema(union).json(in)
      def expected(rel: Envelope.Relation) = Envelope.scd2Fold(
        Envelope.projectRelation(mixed.filter(col("table") === rel.name), rel)
          .filter(col("tag").isin("insert", "update", "delete"))
          .withColumn("valid_from", Envelope.lsnNumeric(col("lsn")))
          .drop("lsn"),
        rel.outName(rel.key))
      relations.foreach { rel =>
        val got = spark.read.parquet(s"$root/${rel.name}")
        val want = expected(rel)
        val cols = got.columns.sorted.map(col)
        assert(got.count() == want.count(), s"${rel.name} history row count (threshold $threshold)")
        assert(got.select(cols: _*).exceptAll(want.select(cols: _*)).isEmpty &&
          want.select(cols: _*).exceptAll(got.select(cols: _*)).isEmpty,
          s"${rel.name} streamed history must equal its single-relation batch fold (threshold $threshold)")
      }
      // no cross-contamination: each history carries exactly its own
      // image columns + the interval bookkeeping
      assert(spark.read.parquet(s"$root/status").columns.toSet ==
        Set("id", "value", "valid_from", "valid_to", "is_current"))
      assert(spark.read.parquet(s"$root/students").columns.toSet ==
        Set("id", "firstName", "lastName", "dateOfBirth", "status",
          "valid_from", "valid_to", "is_current"))
      // the open intervals are each relation's last-image fold
      assert(collectStudents(spark.read.parquet(s"$root/students")
          .filter(col("is_current") === 1)) == studentsFinal,
        "students open intervals must equal the students-only sequential fold")
      assert(collectStatus(spark.read.parquet(s"$root/status")
          .filter(col("is_current") === 1)) == statusFinal,
        "status open intervals must equal the status-only sequential fold")
    }
  }

  test("target naming refuses a collision with another target's compaction-horizon sidecar (r21, ADVICE)") {
    // 'status' mapped onto students' '<table>_graft_horizon' sidecar
    // would let compactScd2Table read status rows as a horizon marker
    // and clobber them — refuse at BUILD, like the duplicate-target
    // guard (requireDistinctTargets runs before the stream starts)
    val e = intercept[IllegalArgumentException] {
      Streams.materializeScd2JdbcTables(
        Streams.envelopeStream(spark, Fixture.materializeMultiTableChunks(2), schema = union),
        java.nio.file.Files.createTempDirectory("graft_sidecar_ckpt").toString,
        "jdbc:derby:memory:graft_sidecar;create=true", relations,
        tableNames = n => if (n == "status") "students_hist_graft_horizon" else s"${n}_hist")
    }
    assert(e.getMessage.contains("compaction-horizon sidecar"), e.getMessage)
    // the plain duplicate-target guard still fires first when two
    // relations share one table outright
    val e2 = intercept[IllegalArgumentException] {
      Streams.materializeScd2JdbcTables(
        Streams.envelopeStream(spark, Fixture.materializeMultiTableChunks(2), schema = union),
        java.nio.file.Files.createTempDirectory("graft_dup_ckpt").toString,
        "jdbc:derby:memory:graft_dup;create=true", relations,
        tableNames = _ => "one_table")
    }
    assert(e2.getMessage.contains("same table"), e2.getMessage)
  }

  test("materializeScd2JdbcTables: one mixed stream lands one JDBC SCD2 history per relation; lost-commit replay is a no-op; both transport modes") {
    import graft.sources.Jdbc
    // each transport mode on both sides of the driver-rows bound
    // (threshold -1: every batch persisted)
    for (ordered <- Seq(true, false); threshold <- Seq(None, Some("-1")))
      withBroadcastThreshold(threshold) {
    val modeTag = (if (ordered) "ord" else "ooo") + threshold.fold("")(_ => "_m1")
    val sinkUrl = s"jdbc:derby:memory:graft_mtscd2_jdbc_$modeTag;create=true"
    // ordered mode streams the LSN-ordered chunks; unordered mode
    // streams them fully REVERSED — deletes out-run their inserts
    // across relations, and the per-relation folds must still converge
    val in =
      if (ordered) Fixture.materializeMultiTableChunks(5)
      else {
        val dir = java.nio.file.Files.createTempDirectory("graft_mtscd2j_ooo_in")
        val lines = Fixture.multiTableJsonLines.reverse
        val chunks = lines.grouped(math.max(1, lines.size / 5)).toVector
        val t0 = System.currentTimeMillis() - 2000L * (chunks.size + 1)
        chunks.zipWithIndex.foreach { case (chunk, i) =>
          val f = dir.resolve(f"chunk_$i%04d.jsonl")
          java.nio.file.Files.write(f,
            chunk.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
          f.toFile.setLastModified(t0 + i * 2000L)
        }
        dir.toString
      }
    val ckpt = java.nio.file.Files.createTempDirectory(s"graft_mtscd2j_ckpt_$modeTag").toString
    def run() = Streams.materializeScd2JdbcTables(
      Streams.envelopeStream(spark, in, schema = union), ckpt, sinkUrl, relations,
      tableNames = n => s"${n}_history", orderedTransport = ordered).awaitTermination()
    run()
    quiesce()
    // each relation's landed history == the batch SCD2 fold of ITS
    // events alone (the q50 parity convention, per relation)
    val mixed = spark.read.schema(union).json(in)
    def expected(rel: Envelope.Relation) = Envelope.scd2Fold(
      Envelope.projectRelation(mixed.filter(col("table") === rel.name), rel)
        .filter(col("tag").isin("insert", "update", "delete"))
        .withColumn("valid_from", Envelope.lsnNumeric(col("lsn")))
        .drop("lsn"),
      rel.outName(rel.key))
    def canon(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] = {
      val cols = df.columns.map(_.toLowerCase).sorted
      val lowered = df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c, c.toLowerCase))
      lowered.select(cols.map(c => col(c).cast("string")): _*).collect()
        .map(_.toSeq.map(v => if (v == null) "<null>" else v.toString)).toSeq
        .sortBy(_.mkString("|"))
    }
    def landed(rel: Envelope.Relation) = canon(
      Jdbc.snapshot(spark, sinkUrl, s"${rel.name}_history"))
    relations.foreach { rel =>
      // fully delivered → no zero-width orphan tombstones may remain
      assert(Jdbc.snapshot(spark, sinkUrl, s"${rel.name}_history")
        .filter(col("valid_to").isNotNull && col("valid_to") === col("valid_from")).isEmpty,
        s"${rel.name}_history must carry no zero-width tombstones after full delivery (ordered=$ordered, threshold $threshold)")
      val want = canon(expected(rel))
      assert(want.nonEmpty && landed(rel) == want,
        s"${rel.name}_history must equal its single-relation batch fold (ordered=$ordered, threshold $threshold)")
    }
    // column isolation: each table carries exactly its own image
    // columns + the interval bookkeeping (no cross-relation bleed)
    assert(Jdbc.snapshot(spark, sinkUrl, "status_history").columns.toSet ==
      Set("id", "value", "valid_from", "valid_to", "is_current"))
    assert(Jdbc.snapshot(spark, sinkUrl, "students_history").columns.toSet ==
      Set("id", "firstName", "lastName", "dateOfBirth", "status",
        "valid_from", "valid_to", "is_current"))
    // scd2AsOf works per table: as-of(max) == each relation's
    // sequential last-image fold
    assert(collectStudents(Envelope.scd2AsOf(
      Jdbc.snapshot(spark, sinkUrl, "students_history"), Long.MaxValue)) == studentsFinal)
    assert(collectStatus(Envelope.scd2AsOf(
      Jdbc.snapshot(spark, sinkUrl, "status_history"), Long.MaxValue)) == statusFinal)
    // crash after the applies, before the checkpoint commit: the
    // replayed batch is screened by each table's own high-water marks
    val before = relations.map(landed)
    val commitsDir = new java.io.File(ckpt, "commits")
    val newest = commitsDir.listFiles().filterNot(_.getName.startsWith("."))
      .maxBy(_.getName.toLong)
    assert(newest.delete())
    new java.io.File(commitsDir, s".${newest.getName}.crc").delete()
    run()
    quiesce()
    assert(relations.map(landed) == before,
      s"replaying a batch whose commit was lost must be a no-op on every relation's history (ordered=$ordered, threshold $threshold)")
    }
  }

  test("golden pin: every materializer binds its checkpoint to a byte-exact sink identity") {
    // graft_sink_identity is compared byte-for-byte on every restart: a
    // changed template refuses every existing checkpoint. Each case
    // streams one envelope into a fresh checkpoint and reads the file back.
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.streaming.StreamingQuery
    val src = Files.createTempDirectory("graft_golden_in")
    Files.write(src.resolve("chunk_0000.jsonl"),
      """{"lsn": "0/00000010", "tag": "insert", "table": "students", "new": {"id": 1, "first_name": "a", "last_name": "b", "date_of_birth": "1990-01-01", "status_id": 1}}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def in = Streams.envelopeStream(spark, src.toString, schema = union)
    val st = Files.createTempDirectory("graft_golden_state").toString
    val url = "jdbc:derby:memory:graft_golden;create=true"
    val cases: Seq[(String, String => StreamingQuery)] = Seq(
      s"parquet:$st/c_o:ordered" ->
        (ck => Streams.materializeCdc(in, ck, s"$st/c_o")),
      s"parquet:$st/c_c:cas" ->
        (ck => Streams.materializeCdc(in, ck, s"$st/c_c", orderedTransport = false)),
      s"parquet:$st/c_o4:ordered:b4" ->
        (ck => Streams.materializeCdc(in, ck, s"$st/c_o4", statePartitions = 4)),
      s"parquet:$st/c_c4:cas:b4" ->
        (ck => Streams.materializeCdc(in, ck, s"$st/c_c4", orderedTransport = false,
          statePartitions = 4)),
      s"parquet:$st/s_o:scd2" ->
        (ck => Streams.materializeScd2(in, ck, s"$st/s_o")),
      s"parquet:$st/s_u:scd2:ooo" ->
        (ck => Streams.materializeScd2(in, ck, s"$st/s_u", orderedTransport = false)),
      s"parquet:$st/s_o4:scd2:b4" ->
        (ck => Streams.materializeScd2(in, ck, s"$st/s_o4", statePartitions = 4)),
      s"parquet:$st/s_u4:scd2:b4:ooo" ->
        (ck => Streams.materializeScd2(in, ck, s"$st/s_u4", statePartitions = 4,
          orderedTransport = false)),
      s"parquet-multi:$st/ct_o:ordered" ->
        (ck => Streams.materializeCdcTables(in, ck, s"$st/ct_o", relations)),
      s"parquet-multi:$st/ct_c:cas" ->
        (ck => Streams.materializeCdcTables(in, ck, s"$st/ct_c", relations,
          orderedTransport = false)),
      s"parquet-multi:$st/ct_o4:ordered:b4" ->
        (ck => Streams.materializeCdcTables(in, ck, s"$st/ct_o4", relations,
          statePartitions = 4)),
      s"parquet-multi:$st/ct_c4:cas:b4" ->
        (ck => Streams.materializeCdcTables(in, ck, s"$st/ct_c4", relations,
          orderedTransport = false, statePartitions = 4)),
      s"parquet-multi:$st/st_o:scd2" ->
        (ck => Streams.materializeScd2Tables(in, ck, s"$st/st_o", relations)),
      s"parquet-multi:$st/st_u:scd2:ooo" ->
        (ck => Streams.materializeScd2Tables(in, ck, s"$st/st_u", relations,
          orderedTransport = false)),
      s"parquet-multi:$st/st_o4:scd2:b4" ->
        (ck => Streams.materializeScd2Tables(in, ck, s"$st/st_o4", relations,
          statePartitions = 4)),
      s"parquet-multi:$st/st_u4:scd2:b4:ooo" ->
        (ck => Streams.materializeScd2Tables(in, ck, s"$st/st_u4", relations,
          statePartitions = 4, orderedTransport = false)),
      s"jdbc:$url#live_o:ordered" ->
        (ck => Streams.materializeCdcJdbc(in, ck, url, "live_o")),
      s"jdbc:$url#live_c:cas" ->
        (ck => Streams.materializeCdcJdbc(in, ck, url, "live_c", orderedTransport = false)),
      s"jdbc-scd2:$url#hist_o" ->
        (ck => Streams.materializeScd2Jdbc(in, ck, url, "hist_o")),
      s"jdbc-scd2:$url#hist_u:ooo" ->
        (ck => Streams.materializeScd2Jdbc(in, ck, url, "hist_u", orderedTransport = false)),
      s"jdbc-multi:$url#live_status_o,live_students_o:ordered" ->
        (ck => Streams.materializeCdcJdbcTables(in, ck, url, relations,
          tableNames = n => s"live_${n}_o")),
      s"jdbc-multi:$url#live_status_c,live_students_c:cas" ->
        (ck => Streams.materializeCdcJdbcTables(in, ck, url, relations,
          tableNames = n => s"live_${n}_c", orderedTransport = false)),
      s"jdbc-scd2-multi:$url#hist_status_o,hist_students_o" ->
        (ck => Streams.materializeScd2JdbcTables(in, ck, url, relations,
          tableNames = n => s"hist_${n}_o")),
      s"jdbc-scd2-multi:$url#hist_status_u,hist_students_u:ooo" ->
        (ck => Streams.materializeScd2JdbcTables(in, ck, url, relations,
          tableNames = n => s"hist_${n}_u", orderedTransport = false)))
    for ((identity, start) <- cases) {
      val ckpt = Files.createTempDirectory("graft_golden_ckpt").toString
      start(ckpt).awaitTermination()
      quiesce()
      val bound = new String(Files.readAllBytes(Paths.get(ckpt, "graft_sink_identity")),
        java.nio.charset.StandardCharsets.UTF_8)
      assert(bound == identity)
    }
  }
}
