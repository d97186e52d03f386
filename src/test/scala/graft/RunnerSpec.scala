package graft

import java.nio.file.Files
import graft.cdc.Fixture
import graft.runner.Main
import graft.streaming.Streams
import graft.CdcFolds._

/** The composition root's stream mode end-to-end: envelope replay →
  * the engine's multi-table materializer → one last-image state per
  * relation, each equal to the sequential fold of that relation's
  * fixture events (SURVEY §3.1 lifecycle). Expected values come from
  * [[CdcFolds]], never through the code under test.
  */
class RunnerSpec extends SparkSuite {

  private def live(root: String, relation: String) =
    Streams.cdcLiveState(spark, s"$root/$relation")

  /** Stream `in`'s directory on a fresh checkpoint into `root`. */
  private def run(in: String, root: String): Unit =
    Main.runStream(spark, new java.io.File(in).getParent,
      Files.createTempDirectory("graft_runner_ckpt").toString, root)

  test("runStream materializes the same final state as batch replay, and a rerun is idempotent") {
    // the students-only stream: one relation's state, equal to its fold
    val in = Fixture.materialize()
    val root = Files.createTempDirectory("graft_runner_state").toString
    run(in, root)
    assert(collectStudents(live(root, "students")) == studentsFinal)
    // a redelivered stream: fresh checkpoint, same state root
    run(in, root)
    assert(collectStudents(live(root, "students")) == studentsFinal)
  }

  test("stream mode demuxes the two-table stream into per-relation state, and a rerun is a no-op") {
    // the reference's FOR ALL TABLES slot: students and status
    // interleaved, key spaces overlapping (status deletes id 5)
    val in = Fixture.materializeMultiTable()
    val root = Files.createTempDirectory("graft_runner_multi").toString
    run(in, root)
    val students = collectStudents(live(root, "students"))
    assert(students.size == 29 && students.contains(5L),
      s"a status delete must not remove student 5: ${students.size} students")
    assert(students == studentsFinal)
    assert(collectStatus(live(root, "status")) == statusFinal)
    val before = Main.relations.map(r => live(root, r.name).orderBy("id").collect().toSeq)
    run(in, root)
    assert(Main.relations.map(r => live(root, r.name).orderBy("id").collect().toSeq) == before)
  }

  test("stream mode refuses an unregistered table by name instead of dropping its events") {
    val src = Files.createTempDirectory("graft_runner_stray_in")
    Files.write(src.resolve("chunk_0000.jsonl"),
      """{"lsn": "0/00000010", "tag": "insert", "table": "orders", "new": {"id": 1}}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(src.resolve("chunk_0000.jsonl").toString,
        Files.createTempDirectory("graft_runner_stray").toString)
    }
    val msgs = Iterator.iterate(failed: Throwable)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("unregistered table") && msgs.contains("orders"), msgs)
  }
}
