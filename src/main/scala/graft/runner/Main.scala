package graft.runner

import org.apache.spark.sql.SparkSession
import graft.cdc.Envelope
import graft.streaming.Streams

/** Composition root mirroring the reference's three entry points
  * (SURVEY §3.1–3.3, the reference's `src/main.ts:144-189`):
  *
  *   stream <envelopeDir> <checkpointDir> <stateRoot> — the live CDC path
  *   batch  <snapshotParquet> <outDir>                — snapshot load
  *   sql    <tableDir> <query...>                     — DDL/query passthrough
  *
  * Lifecycle parity, upgraded where the reference is broken:
  *  - config validation at startup (`require`, vs io-ts decode) fails
  *    fast like the reference's Either short-circuit;
  *  - stream mode is the engine's multi-table materializer
  *    ([[Streams.materializeCdcTables]]) over the reference's
  *    publication: one FOR ALL TABLES stream demuxed into one parquet
  *    last-image state per relation at `<stateRoot>/<relation>`, with the
  *    offset commit AFTER the sink write (A9) — not the reference's 10 s
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

  /** The reference's publication (`query.ts:12`): the relations one slot carries. */
  val relations: Seq[Envelope.Relation] = Seq(Envelope.studentsRelation, Envelope.statusRelation)

  /** Stream mode body. Relation `r`'s live rows are then
    * `Streams.cdcLiveState(spark, s"$stateRoot/${r.name}")`; a rerun
    * over the same state converges to the same rows. */
  def runStream(spark: SparkSession, in: String, ckpt: String, stateRoot: String): Unit = {
    val q = Streams.materializeCdcTables(
      Streams.envelopeStream(spark, in, schema = Envelope.unionSchema(relations)),
      ckpt, stateRoot, relations)
    val hook = sys.addShutdownHook(q.stop()) // SIGINT parity (main.ts:101-142)
    // drop the hook with its query; during JVM shutdown it has already run
    try q.awaitTermination()
    finally try hook.remove() catch { case _: IllegalStateException => () }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: stream|batch|sql <args...>")
    val spark = buildSession()
    spark.sparkContext.setLogLevel("WARN")

    args(0) match {
      case "stream" =>
        require(args.length == 4, "stream <envelopeDir> <checkpointDir> <stateRoot>")
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
