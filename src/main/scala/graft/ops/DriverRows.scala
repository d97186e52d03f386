package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/** Does a frame evaluate on the driver? A micro-batch within the
  * broadcast bound is rebuilt as a driver-side `LocalRelation`
  * (`Streams.batchFrame`), and Spark folds filters and projections over
  * one into another, so a frame derived from it still optimizes to a
  * `LocalRelation`. Its rows are then at hand with no job: the CDC
  * guard's tally reads them, the ordered apply reduces them on the
  * driver, and Merge filters the state by their key set
  * ([[graft.expressions.InKeySet]]). Reading the optimized plan runs no
  * job. */
object DriverRows {
  /** `df`'s rows, in its column order, when its optimized plan is a
    * `LocalRelation` and, given `key`, that column's type is one
    * [[graft.expressions.InKeySet.exact]] admits, so grouping or
    * matching its values on the driver agrees with Spark's join on
    * them; else None. */
  def apply(df: DataFrame, key: Option[String] = None): Option[Seq[InternalRow]] =
    if (key.exists(k => !graft.expressions.InKeySet.exact(df.schema(k).dataType))) None
    else df.queryExecution.optimizedPlan match {
      case l: LocalRelation => Some(l.data)
      case _ => None
    }
}
