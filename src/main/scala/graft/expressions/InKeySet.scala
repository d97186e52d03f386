package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._

/** `child ∈ keys` against a driver-held key set: true when the child's
  * value is in the set, false otherwise, a NULL child included. So
  * `NOT in_key_set(k)` keeps a NULL-keyed row, exactly like an anti join
  * on null-unsafe equality does.
  *
  * Why not `isin`: Spark compiles an `In`/`InSet` over at most
  * `spark.sql.optimizer.inSetSwitchThreshold` (400) byte, short, int or
  * date values into a `switch` that holds the values, and a short `In`
  * list inlines every primitive literal. Either way each new key set is
  * a new generated class: one janino compile per micro-batch. Here the
  * set rides `ctx.addReferenceObj` as a `java.util.Set`, so the
  * generated code is the same for every key set.
  *
  * `keys` holds Catalyst internal values of `child.dataType`, which must
  * satisfy [[InKeySet.exact]]. */
case class InKeySet(child: Expression, keys: java.util.Set[Any])
    extends UnaryExpression with Predicate {

  override def nullable: Boolean = false
  override def prettyName: String = "in_key_set"
  // a plan string names the set's size, not its (batch-sized) content
  override protected def stringArgs: Iterator[Any] = Iterator(child, s"${keys.size} keys")

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    v != null && keys.contains(v)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val set = ctx.addReferenceObj("keys", keys, "java.util.Set")
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.value} = !${c.isNull} && $set.contains(${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object InKeySet {
  /** Types whose internal values are equal under `equals` exactly when
    * Spark's join on them matches: integral, date/time and binary-
    * collation strings. Floating keys (NaN, -0.0), decimals, binary and
    * nested types are left to the join. */
  def exact(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case DateType | TimestampType | TimestampNTZType => true
    case s: StringType => s == StringType
    case _ => false
  }
}
