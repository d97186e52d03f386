package graft.runner

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.cdc.Envelope
import graft.streaming.Streams

/** Composition root mirroring the reference's three entry points
  * (SURVEY §3.1–3.3, `/root/reference/src/main.ts:144-189`):
  *
  *   stream <envelopeDir> <checkpointDir> <outDir>   — the live CDC path
  *   batch  <snapshotParquet> <outDir>               — snapshot load
  *   sql    <tableDir> <query...>                    — DDL/query passthrough
  *
  * Lifecycle parity, upgraded where the reference is broken:
  *  - config validation at startup (`require`, vs io-ts decode) fails
  *    fast like the reference's Either short-circuit;
  *  - the listener boundary is `foreachBatch` (A2), with the offset
  *    commit AFTER the sink write (A9) — not the reference's 10 s
  *    auto-ack-even-on-failure;
  *  - SIGINT-driven graceful shutdown (`main.ts:101-142`) becomes a JVM
  *    shutdown hook stopping the query, then the session.
  */
object Main {

  private[runner] def buildSession(): SparkSession =
    SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()

  /** The CDC transform shared by stream and batch replay: filter
    * control tags, project row images, apply last-image-wins. */
  private[runner] def finalState(envelopes: DataFrame): DataFrame =
    Envelope.lastImageByKey(Envelope.project(envelopes))

  /** Stream mode body: append each batch's projected row images to a
    * log-structured parquet table; [[readFinalState]] compacts on read.
    * A batch retried after a sink-side failure appends duplicates, and
    * last-image-wins by LSN resolves them identically — the idempotent
    * commit-after-sink contract Q19 tests (vs the reference's
    * ack-on-a-timer, `PostgresOperation.ts:24-29`). */
  def runStream(spark: SparkSession, in: String, ckpt: String,
      out: String): Unit = {
    val q = Streams.runForeachBatch(
      Streams.envelopeStream(spark, in), ckpt,
      (batch, _) => Envelope.project(batch).write.mode("append").parquet(out))
    sys.addShutdownHook(q.stop()) // SIGINT parity (main.ts:101-142)
    q.awaitTermination()
  }

  /** Compact the appended image log to current state (delete-aware). */
  def readFinalState(spark: SparkSession, out: String): DataFrame =
    // plain inference, not Tables.readParquet: the log's files come from
    // many appends whose schemas may differ
    Envelope.lastImageByKey(spark.read.parquet(out))

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: stream|batch|sql <args...>")
    val spark = buildSession()
    spark.sparkContext.setLogLevel("WARN")

    args(0) match {
      case "stream" =>
        require(args.length == 4, "stream <envelopeDir> <checkpointDir> <outDir>")
        runStream(spark, args(1), args(2), args(3))

      case "batch" =>
        require(args.length == 3, "batch <snapshotParquet> <outDir>")
        // any writer's snapshot: plain inference, not Tables.readParquet
        spark.read.parquet(args(1)).write.mode("overwrite").parquet(args(2))

      case "sql" =>
        require(args.length >= 3, "sql <tableDir> <query>")
        graft.sources.Tables.registerAll(spark, args(1))
        spark.sql(args.drop(2).mkString(" ")).show(100, truncate = false)

      case other => sys.error(s"unknown mode: $other")
    }
    spark.stop()
  }
}
