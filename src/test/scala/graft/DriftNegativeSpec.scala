package graft

import java.nio.file.Files
import org.apache.spark.sql.types._
import graft.cdc.Envelope
import graft.streaming.Streams

/** Negative pins for NON-ADDITIVE schema drift (round 10): column
  * removal and incompatible type change mid-stream must fail with a
  * named error in BOTH materializer modes — the additive machinery's
  * silent null-fill would erase history (removal) or require a lossy
  * guess (type clash). The additive and numeric-widening positive
  * paths are pinned in StreamsExtraSpec / JdbcSpec; these are the
  * refusals. */
class DriftNegativeSpec extends SparkSuite {

  private val widened = StructType(Envelope.schema.fields.map {
    case f if f.name == "new" =>
      f.copy(dataType = f.dataType.asInstanceOf[StructType].add("email", StringType))
    case f => f
  })

  /** status_id re-typed STRING — the int→string migration with no safe
    * streaming interpretation. */
  private val retyped = StructType(Envelope.schema.fields.map {
    case f if f.name == "new" =>
      f.copy(dataType = StructType(f.dataType.asInstanceOf[StructType].fields.map {
        case g if g.name == "status_id" => g.copy(dataType = StringType)
        case g => g
      }))
    case f => f
  })

  private def img(id: Long, extra: String = "") =
    s""""new": {"id": $id, "first_name": "fn$id", "last_name": "ln$id", "date_of_birth": "1990-01-01", "status_id": 1$extra}"""

  private def quiesce(): Unit = {
    var waited = 0
    while (spark.streams.active.nonEmpty && waited < 10000) {
      Thread.sleep(100); waited += 100
    }
  }

  private def msgs(t: Throwable): String = Iterator.iterate(t)(_.getCause)
    .takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse("")).mkString("\n")

  /** Fresh input dir + a chunk writer with strictly increasing mtimes. */
  private class Feed {
    val dir = Files.createTempDirectory("graft_negdrift_in")
    private var mtime = System.currentTimeMillis() - 120000L
    private var chunkNo = 0
    def deliver(lines: String*): Unit = {
      val f = dir.resolve(f"chunk_$chunkNo%04d.jsonl")
      Files.write(f, lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f.toFile.setLastModified(mtime)
      mtime += 2000L; chunkNo += 1
    }
  }

  test("parquet: a state column vanishing from the change schema fails with the named removal error") {
    val feed = new Feed
    val ckpt = Files.createTempDirectory("graft_negrm_ckpt").toString
    val state = Files.createTempDirectory("graft_negrm_state").toString + "/students"
    // batch 0 under the widened schema: state carries 'email'
    feed.deliver(s"""{"lsn": "0/00000010", "tag": "insert", "table": "students", ${img(1L, """, "email": "one@x"""")}}""")
    Streams.materializeCdc(
      Streams.envelopeStream(spark, feed.dir.toString, schema = widened), ckpt, state)
      .awaitTermination()
    quiesce()
    assert(spark.read.parquet(state).columns.contains("email"), "precondition")
    // restart with the ORIGINAL schema — the producer dropped the column
    feed.deliver(s"""{"lsn": "0/00000020", "tag": "insert", "table": "students", ${img(2L)}}""")
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streams.materializeCdc(
        Streams.envelopeStream(spark, feed.dir.toString), ckpt, state)
        .awaitTermination()
    }
    assert(msgs(failed).contains("non-additive schema drift") &&
      msgs(failed).contains("'email'"), msgs(failed))
    // the refused batch must not have touched the state
    assert(spark.read.parquet(state).count() == 1, "state untouched after the refusal")
  }

  test("parquet: an int->string type change fails with the named incompatible-type error, no guessed cast") {
    val feed = new Feed
    val ckpt = Files.createTempDirectory("graft_negty_ckpt").toString
    val state = Files.createTempDirectory("graft_negty_state").toString + "/students"
    feed.deliver(s"""{"lsn": "0/00000010", "tag": "insert", "table": "students", ${img(1L)}}""")
    Streams.materializeCdc(
      Streams.envelopeStream(spark, feed.dir.toString), ckpt, state)
      .awaitTermination()
    quiesce()
    assert(spark.read.parquet(state).schema("status").dataType == IntegerType, "precondition")
    feed.deliver(s"""{"lsn": "0/00000020", "tag": "insert", "table": "students", ${img(2L)}}""")
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streams.materializeCdc(
        Streams.envelopeStream(spark, feed.dir.toString, schema = retyped), ckpt, state)
        .awaitTermination()
    }
    assert(msgs(failed).contains("incompatible type drift") &&
      msgs(failed).contains("'status'") && msgs(failed).contains("int") &&
      msgs(failed).contains("string"), msgs(failed))
    assert(spark.read.parquet(state).schema("status").dataType == IntegerType,
      "state type unchanged after the refusal")
  }

  test("jdbc: a table column vanishing from the change schema fails with the named removal error") {
    val url = "jdbc:derby:memory:graft_negrm_jdbc;create=true"
    val feed = new Feed
    val ckpt = Files.createTempDirectory("graft_negrmj_ckpt").toString
    feed.deliver(s"""{"lsn": "0/00000010", "tag": "insert", "table": "students", ${img(1L, """, "email": "one@x"""")}}""")
    Streams.materializeCdcJdbc(
      Streams.envelopeStream(spark, feed.dir.toString, schema = widened), ckpt, url, "students_neg")
      .awaitTermination()
    quiesce()
    assert(graft.sources.Jdbc.columnMeta(url, "students_neg").contains("email"), "precondition")
    feed.deliver(s"""{"lsn": "0/00000020", "tag": "insert", "table": "students", ${img(2L)}}""")
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streams.materializeCdcJdbc(
        Streams.envelopeStream(spark, feed.dir.toString), ckpt, url, "students_neg")
        .awaitTermination()
    }
    assert(msgs(failed).contains("non-additive schema drift") &&
      msgs(failed).contains("'email'"), msgs(failed))
    assert(graft.sources.Jdbc.snapshot(spark, url, "students_neg").count() == 1,
      "table untouched after the refusal")
  }

  test("jdbc: a DBA-added nullable sink column is refused by default and accepted under allowSinkOnlyColumns") {
    // a remote-only column is ambiguous at a SQL sink: producer
    // removal (the strict default's reading) vs a sink-side audit
    // column the materializer never wrote — the knob opts into the
    // latter for columns an INSERT may omit
    val url = "jdbc:derby:memory:graft_dba_jdbc;create=true"
    val feed = new Feed
    val ckpt = Files.createTempDirectory("graft_dba_ckpt").toString
    feed.deliver(s"""{"lsn": "0/00000010", "tag": "insert", "table": "students", ${img(1L)}}""")
    Streams.materializeCdcJdbc(
      Streams.envelopeStream(spark, feed.dir.toString), ckpt, url, "students_dba")
      .awaitTermination()
    quiesce()
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      st.executeUpdate("""ALTER TABLE students_dba ADD COLUMN "audit_ts" TIMESTAMP""")
      st.close()
    } finally c.close()
    feed.deliver(s"""{"lsn": "0/00000020", "tag": "insert", "table": "students", ${img(2L)}}""")
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streams.materializeCdcJdbc(
        Streams.envelopeStream(spark, feed.dir.toString), ckpt, url, "students_dba")
        .awaitTermination()
    }
    assert(msgs(failed).contains("non-additive schema drift") &&
      msgs(failed).contains("'audit_ts'") &&
      msgs(failed).contains("allowSinkOnlyColumns"), msgs(failed))
    quiesce()
    // opt in: the batch lands, the audit column stays NULL
    Streams.materializeCdcJdbc(
      Streams.envelopeStream(spark, feed.dir.toString), ckpt, url, "students_dba",
      allowSinkOnlyColumns = true).awaitTermination()
    quiesce()
    val rows = graft.sources.Jdbc.snapshot(spark, url, "students_dba")
    assert(rows.count() == 2)
    assert(rows.filter(org.apache.spark.sql.functions.col("audit_ts").isNotNull).count() == 0)
  }

  test("jdbc: an int->string type change fails with the named incompatible-type error before any DML") {
    val url = "jdbc:derby:memory:graft_negty_jdbc;create=true"
    val feed = new Feed
    val ckpt = Files.createTempDirectory("graft_negtyj_ckpt").toString
    feed.deliver(s"""{"lsn": "0/00000010", "tag": "insert", "table": "students", ${img(1L)}}""")
    Streams.materializeCdcJdbc(
      Streams.envelopeStream(spark, feed.dir.toString), ckpt, url, "students_ty")
      .awaitTermination()
    quiesce()
    feed.deliver(s"""{"lsn": "0/00000020", "tag": "insert", "table": "students", ${img(2L)}}""")
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streams.materializeCdcJdbc(
        Streams.envelopeStream(spark, feed.dir.toString, schema = retyped), ckpt, url, "students_ty")
        .awaitTermination()
    }
    assert(msgs(failed).contains("incompatible type drift") &&
      msgs(failed).contains("'status'") && msgs(failed).contains("character"), msgs(failed))
    assert(graft.sources.Jdbc.snapshot(spark, url, "students_ty").count() == 1,
      "table untouched after the refusal")
  }
}
