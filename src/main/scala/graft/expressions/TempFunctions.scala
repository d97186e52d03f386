package graft.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

/** Catalyst expressions reached from the DataFrame API through temp
  * functions: Spark 4 has no public Column-from-Expression constructor.
  *
  * Each registration takes a per-call UNIQUE name (`<prefix>_<n>`), not
  * one shared name: the Columns that call it stay unresolved until the
  * caller attaches them to a frame, so with a shared name two concurrent
  * callers on one session could resolve each other's expression (a
  * centroid matrix, a codebook, a key set). Dataset construction
  * analyzes eagerly, so once the frame is built the registry is never
  * consulted again and the name can be dropped; without the drop every
  * call would leak one registry entry for the life of the session. */
object TempFunctions {
  private val seq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Register `build` under a fresh `<prefix>_<n>` and return the name.
    * The caller drops it with [[drop]] once its frames are built. */
  def register(spark: SparkSession, prefix: String, build: Seq[Expression] => Expression): String = {
    val fn = s"${prefix}_${seq.incrementAndGet()}"
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(fn, build, "built-in")
    fn
  }

  def drop(spark: SparkSession, fn: String): Unit =
    spark.sessionState.functionRegistry.dropFunction(FunctionIdentifier(fn))

  /** `use` with `build` registered under a fresh name, dropped when
    * `use` returns or throws. */
  def using[T](spark: SparkSession, prefix: String, build: Seq[Expression] => Expression)(
      use: String => T): T = {
    val fn = register(spark, prefix, build)
    try use(fn) finally drop(spark, fn)
  }
}
