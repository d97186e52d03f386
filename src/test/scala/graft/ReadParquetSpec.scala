package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.cdc.{Envelope, Fixture}
import graft.ops.IndexStore
import graft.sources.Tables
import graft.streaming.Streams

/** `Tables.readParquet`: the engine's parquet reads take their schema
  * from one footer read on the driver instead of Spark's one-task
  * inference job. Pins (a) that building each engine read launches no
  * job, and (b) that the schema is the one inference gives, nullability
  * and metadata included, on every layout the engine reads: harness
  * tables (Spark- and non-Spark-written footers, both events vintages),
  * plain, bucket-partitioned and CAS CDC state, SCD2 history and index
  * artifacts. Also pins each fallback to inference.
  */
class ReadParquetSpec extends SparkSuite {

  private def dir(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def quiesce(): Unit = {
    var waited = 0
    while (spark.streams.active.nonEmpty && waited < 10000) {
      Thread.sleep(100); waited += 100
    }
  }

  /** The reader's schema equals inference's, and the reader ran no job. */
  private def assertParity(path: String): Unit = {
    var df: DataFrame = null
    val jobs = jobsDuring { df = Tables.readParquet(spark, path) }
    assert(jobs == 0, s"readParquet($path) launched $jobs jobs")
    val inferred = spark.read.parquet(path).schema
    assert(df.schema == inferred,
      s"$path:\n  reader    ${df.schema.treeString}\n  inference ${inferred.treeString}")
  }

  test("all ten sf0.001 harness tables: the footer schema equals inference's, with no job") {
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    for (t <- Tables.all) {
      val path = s"$sf/$t.parquet"
      val inferred = scala.util.Try(spark.read.parquet(path).schema)
      if (inferred.isSuccess) assertParity(path)
      else {
        // a vintage Spark refuses without the legacy conf must refuse
        // the same way through the reader, then agree under the conf
        val cond = Tables.parquetTypeCondition(inferred.failed.get)
        val mine = intercept[Exception](Tables.readParquet(spark, path))
        assert(Tables.parquetTypeCondition(mine) == cond && cond.isDefined, s"$t: ${mine.getMessage}")
        val prev = spark.conf.getOption(nanosKey)
        spark.conf.set(nanosKey, "true")
        try assertParity(path)
        finally prev.fold(spark.conf.unset(nanosKey))(spark.conf.set(nanosKey, _))
      }
    }
  }

  test("Tables.load and Tables.events in both ts vintages build with no Spark job") {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType, Types}
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.spark.sql.types.TimestampType
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(nanosKey)
    try {
      spark.conf.unset(nanosKey)
      for (t <- Seq("orders", "embeddings")) {
        var df: DataFrame = null
        assert(jobsDuring { df = Tables.load(spark, sf, t) } == 0, t)
        assert(df.schema == spark.read.parquet(s"$sf/$t.parquet").schema, t)
      }
      // micros-NTZ vintage, as Spark writes it
      val ntz = dir("graft_rp_ntz")
      spark.sql("SELECT 1L AS event_id, TIMESTAMP_NTZ'2026-01-02 03:04:05.123456' AS ts")
        .write.mode("overwrite").parquet(s"$ntz/events.parquet")
      // nanos vintage: parquet-mr only, no Spark row-metadata key
      val nanos = dir("graft_rp_nanos")
      val schema = Types.buildMessage()
        .required(PrimitiveType.PrimitiveTypeName.INT64).named("event_id")
        .required(PrimitiveType.PrimitiveTypeName.INT64)
          .as(LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.NANOS))
          .named("ts")
        .named("events")
      val w = ExampleParquetWriter.builder(
          new org.apache.hadoop.fs.Path(s"$nanos/events.parquet"))
        .withConf(new org.apache.hadoop.conf.Configuration())
        .withType(schema).build()
      w.write(new SimpleGroupFactory(schema).newGroup()
        .append("event_id", 1L).append("ts", 1767323045123456789L))
      w.close()
      // the refusal the nanos fallback keys on still fires, on the driver
      val refusal = intercept[Exception](Tables.readParquet(spark, s"$nanos/events.parquet"))
      assert(Tables.parquetTypeCondition(refusal).contains("PARQUET_TYPE_ILLEGAL"), refusal.getMessage)
      for ((d, vintage) <- Seq(ntz -> "ntz", nanos -> "nanos")) {
        var df: DataFrame = null
        assert(jobsDuring { df = Tables.events(spark, d) } == 0, vintage)
        assert(df.schema("ts").dataType == TimestampType, vintage)
        assertParity(s"$d/events.parquet")
      }
    } finally prev.fold(spark.conf.unset(nanosKey))(spark.conf.set(nanosKey, _))
  }

  test("cdcLiveState (plain, 4 buckets, CAS) and scd2AsOfState build with no Spark job") {
    val in = Fixture.materializeChunks(1)
    val root = dir("graft_rp_state")
    def run(q: String => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      q(dir("graft_rp_ckpt")).awaitTermination(); quiesce()
    }
    run(ck => Streams.materializeCdc(Streams.envelopeStream(spark, in), ck, s"$root/plain"))
    run(ck => Streams.materializeCdc(Streams.envelopeStream(spark, in), ck, s"$root/b4",
      statePartitions = 4))
    run(ck => Streams.materializeCdc(Streams.envelopeStream(spark, in), ck, s"$root/cas",
      orderedTransport = false))
    run(ck => Streams.materializeScd2(Streams.envelopeStream(spark, in), ck, s"$root/scd2"))
    val expected = Envelope.lastImageByKey(Envelope.project(
      spark.read.schema(Envelope.schema).json(in)))
    for (st <- Seq("plain", "b4", "cas")) {
      val path = s"$root/$st"
      assertParity(path)
      var live: DataFrame = null
      assert(jobsDuring { live = Streams.cdcLiveState(spark, path) } == 0, st)
      assert(live.columns.toSet == expected.columns.toSet, s"$st: ${live.columns.toSeq}")
      val cols = expected.columns.map(col).toSeq
      assert(live.select(cols: _*).exceptAll(expected).isEmpty &&
        expected.exceptAll(live.select(cols: _*)).isEmpty, s"$st live rows")
    }
    assertParity(s"$root/scd2")
    var asOf: DataFrame = null
    assert(jobsDuring { asOf = Streams.scd2AsOfState(spark, s"$root/scd2", Long.MaxValue) } == 0)
    assert(asOf.count() == expected.count())
  }

  test("IndexStore.load runs one job, the commit-marker collect; meta and data need no schema job") {
    val flat = dir("graft_rp_idx")
    IndexStore.save(spark.range(5).toDF("vec_id"), flat, "some_kind", Map("p" -> "1"))
    val lists = dir("graft_rp_lists")
    IndexStore.saveMembership(
      spark.range(20).select(col("id").as("vec_id"), (col("id") % 4).cast("int").as("list_id")),
      lists, 4)
    for ((path, kind) <- Seq(flat -> "some_kind", lists -> "ivf_membership")) {
      var loaded: (DataFrame, Map[String, String]) = null
      assert(jobsDuring { loaded = IndexStore.load(spark, path, kind) } == 1, path)
      assert(loaded._1.schema == spark.read.parquet(s"$path/data").schema, path)
      assertParity(s"$path/meta")
      assertParity(s"$path/data")
    }
  }

  test("readParquet reads the footer inference reads: full-path order across partitions, root files only") {
    // `k=a-b/...` sorts before `k=a/...` ('-' < '/') although the name
    // `k=a` sorts first: the first file by full path sets the schema
    val parts = dir("graft_rp_order")
    spark.range(2).withColumn("later", lit(1)).write.mode("overwrite").parquet(s"$parts/k=a")
    spark.range(2).withColumn("first", lit(1)).write.mode("overwrite").parquet(s"$parts/k=a-b")
    assertParity(parts)
    assert(Tables.readParquet(spark, parts).columns.toSeq == Seq("id", "first", "k"))
    // a directory that is no partition holds no file of the table
    val flat = dir("graft_rp_flat")
    spark.range(2).write.mode("overwrite").parquet(flat)
    spark.range(2).withColumn("aside", lit(1)).write.mode("overwrite").parquet(s"$flat/aside")
    assertParity(flat)
    assert(Tables.readParquet(spark, flat).columns.toSeq == Seq("id"))
  }

  test("readParquet falls back to inference: summary files, mergeSchema, a file-sink log, an unreadable footer") {
    def fallsBack(path: String): Unit = {
      var df: DataFrame = null
      assert(jobsDuring { df = Tables.readParquet(spark, path) } >= 1,
        s"$path: expected the inference job of the fallback")
      assert(df.schema == spark.read.parquet(path).schema, path)
    }
    // summary files take precedence in Spark's inference
    val summary = dir("graft_rp_summary")
    spark.range(3).write.mode("overwrite").parquet(summary)
    Files.copy(java.nio.file.Paths.get(summary, new java.io.File(summary).list()
      .filter(_.endsWith(".parquet")).head), java.nio.file.Paths.get(summary, "_common_metadata"))
    fallsBack(summary)
    // session-wide schema merging reads every footer
    val merged = dir("graft_rp_merge")
    spark.range(3).write.mode("overwrite").parquet(s"$merged/k=1")
    spark.range(3).withColumn("extra", lit(1)).write.mode("overwrite").parquet(s"$merged/k=2")
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      fallsBack(merged)
      assert(Tables.readParquet(spark, merged).columns.contains("extra"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    assertParity(merged)
    // a file-sink output is read through its _spark_metadata log: a
    // stray file outside the log, first by name, must not set the schema
    val sinkIn = dir("graft_rp_sink_in")
    spark.range(3).write.mode("overwrite").json(sinkIn)
    val sink = dir("graft_rp_sink")
    spark.readStream.schema("id LONG").json(sinkIn).writeStream.format("parquet")
      .option("checkpointLocation", dir("graft_rp_sink_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(sink).awaitTermination()
    val stray = dir("graft_rp_stray")
    spark.range(1).withColumn("stray", lit(1)).coalesce(1).write.mode("overwrite").parquet(stray)
    Files.copy(java.nio.file.Paths.get(stray, new java.io.File(stray).list()
      .filter(_.endsWith(".parquet")).head), java.nio.file.Paths.get(sink, "a-stray.parquet"))
    fallsBack(sink)
    assert(Tables.readParquet(spark, sink).columns.toSeq == Seq("id"))
    // an unreadable first footer: the inference job raises Spark's own error
    val torn = dir("graft_rp_torn")
    Files.write(java.nio.file.Paths.get(torn, "part-0.parquet"), "not parquet".getBytes)
    intercept[org.apache.spark.SparkException](Tables.readParquet(spark, torn))
    // no visible data file: inference's own refusal
    val empty = dir("graft_rp_empty")
    Files.write(java.nio.file.Paths.get(empty, "_SUCCESS"), Array.emptyByteArray)
    val e = intercept[org.apache.spark.sql.AnalysisException](Tables.readParquet(spark, empty))
    assert(e.getCondition == "UNABLE_TO_INFER_SCHEMA", e.getMessage)
  }
}
