package graft.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, StructField, StructType}

/** Native Catalyst expression for the vector-similarity hot path
  * (SURVEY §2 B.7 / charter custom-operator ladder step (b)).
  *
  * The higher-order-function formulation
  * (`aggregate(zip_with(a, b, ...), ...)`) is semantically identical
  * but its lambdas are CodegenFallback — every element costs an
  * interpreted closure call, which dominates candidate-pair scoring at
  * scale. This expression is a tight generated loop inside whole-stage
  * codegen (plus a matching interpreted path), with the exact same
  * math: float elements promoted to double, sequential left-to-right
  * accumulation — so results are bit-identical to the HOF form and to
  * the DuckDB oracle.
  */
case class FloatDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"float_dot expects (array<float|double>, array<float|double>), got (${left.dataType}, ${right.dataType})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_dot"

  // float32 widens to double EXACTLY, so per-side element-type dispatch
  // cannot change any result a float-only path produced; the whitened-
  // space stack (p50/p51) feeds 6-dp doubles directly
  @transient private lazy val leftIsFloat: Boolean =
    left.dataType match { case ArrayType(FloatType, _) => true; case _ => false }
  @transient private lazy val rightIsFloat: Boolean =
    right.dataType match { case ArrayType(FloatType, _) => true; case _ => false }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val (lf, rf) = (leftIsFloat, rightIsFloat)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      // element accessors are static per child type — resolved at
      // codegen time, no per-row branch
      val xe = if (leftIsFloat) s"((double) $x.getFloat($i))" else s"$x.getDouble($i)"
      val ye = if (rightIsFloat) s"((double) $y.getFloat($i))" else s"$y.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $xe * $ye;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Argmax-cosine scoring of one `array<float>` vector against a
  * DRIVER-HELD centroid matrix, as a single expression node — the
  * "broadcast centroid matrix + custom Expression" scale path the
  * k-means trainer's header promises (`graft.ops.KMeans`).
  *
  * Why it exists: the literal-expanded `array(struct(cos_j, -j))` +
  * `array_max` form is ideal for small K (pure whole-stage codegen
  * arithmetic) but its plan is O(K·dim) expression nodes — at
  * K in the thousands that bloats analysis, codegen, and the task
  * binary all over again. This node is O(1) plan size for any K: the
  * matrix rides `ctx.addReferenceObj` into the generated class (part
  * of the serialized plan a real cluster broadcasts to executors
  * once per stage), and the per-row work is one tight JIT'd loop.
  * Still inside whole-stage codegen — no CodegenFallback.
  *
  * Math is BIT-IDENTICAL to the expanded form so the two strategies
  * are interchangeable mid-training (KMeansSpec pins this):
  * float elements promote to double, dot and self-dot accumulate
  * left-to-right, centroid norms are `sqrt(Σc²)` (Scala left-to-right
  * at construction), cosine rounds HALF_UP to 6 dp, argmax is
  * strictly-greater ⇒ ties take the smallest cluster id.
  *
  * Returns `struct(cluster int, cos double)`.
  */
case class BestCentroid(child: Expression, centroids: Array[Array[Double]])
    extends UnaryExpression {
  require(centroids.nonEmpty, "[graft] best_centroid needs ≥1 centroid")

  @transient private lazy val cnorms: Array[Double] = centroids.map { c =>
    val n = math.sqrt(c.map(x => x * x).sum)
    require(n > 0.0,
      "[graft] best_centroid: zero-norm centroid — cosine undefined; a cluster " +
        "whose members sum to the zero vector must be reseeded upstream")
    n
  }

  /** All centroids must agree on dimension so the per-row check below
    * is a single comparison, not K of them. */
  @transient private lazy val cdim: Int = {
    val d = centroids.head.length
    require(centroids.forall(_.length == d),
      "[graft] best_centroid: centroids disagree on dimension")
    d
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"best_centroid expects array<float|double>, got $dt")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("cluster", IntegerType, nullable = false),
    StructField("cos", DoubleType, nullable = false)))
  override def prettyName: String = "best_centroid"

  // same dispatch rationale as PqEncode: float widens to double
  // exactly, whitened 6-dp doubles (p51) pass through untouched
  @transient private lazy val isFloat: Boolean =
    child.dataType match { case ArrayType(FloatType, _) => true; case _ => false }

  /** Public so the generated code can call it (nullSafeEval is
    * protected and the generated class sits in another package). */
  def score(input: Any): InternalRow = {
    val v = input.asInstanceOf[ArrayData]
    val f = isFloat
    var self = 0.0
    var i = 0
    val nv = v.numElements()
    while (i < nv) {
      val x = if (f) v.getFloat(i).toDouble else v.getDouble(i)
      self += x * x; i += 1
    }
    val nrm = math.sqrt(self)
    // Parity with the literal-expanded strategy under ANSI mode (the
    // Spark 4 default), where `dot / (nrm * cnrm)` THROWS
    // DIVIDE_BY_ZERO on a zero-norm vector: degenerate input fails
    // loudly in both strategies, never silently lands in a cluster.
    if (nrm == 0.0) throw new IllegalArgumentException(
      "[graft] best_centroid: zero-norm input vector — cosine undefined; " +
        "filter degenerate rows upstream")
    // Fail loudly on dimension mismatch, mirroring the zero-norm refusal:
    // the literal-expanded strategy throws under ANSI (getItem past the
    // array end), so a silently-truncated dot here would quietly fork
    // the two strategies exactly on malformed data.
    if (nv != cdim) throw new IllegalArgumentException(
      s"[graft] best_centroid: input vector has $nv elements but centroids " +
        s"have $cdim — dimension mismatch; fix the upstream schema")
    var bestJ = 0
    var bestCos = Double.NegativeInfinity
    var j = 0
    while (j < centroids.length) {
      val c = centroids(j)
      var dot = 0.0
      i = 0
      while (i < nv) {
        val x = if (f) v.getFloat(i).toDouble else v.getDouble(i)
        dot += x * c(i); i += 1
      }
      val raw = dot / (nrm * cnorms(j))
      // same NaN/Inf passthrough as Spark's `round` (BigDecimal would throw)
      val cos = if (raw.isNaN || raw.isInfinite) raw
        else BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      // Double.compare, not `>`: Spark's double ordering ranks NaN as
      // the GREATEST value, so a NaN cosine (possible from NaN/Inf
      // PAYLOAD values — zero norms are rejected above) must win here
      // too or the kernel would diverge from the expanded array_max
      // form. (-0.0 vs 0.0, where the two orderings differ, can't
      // reach this comparison: finite cosines pass through BigDecimal
      // rounding, which has no negative zero.)
      if (java.lang.Double.compare(cos, bestCos) > 0) { bestCos = cos; bestJ = j }
      j += 1
    }
    new GenericInternalRow(Array[Any](bestJ, bestCos))
  }

  override def nullSafeEval(input: Any): Any = score(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val kernel = ctx.addReferenceObj("bestCentroidKernel", this,
        classOf[BestCentroid].getName)
      s"${ev.value} = $kernel.score($x);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Product-quantization encoder: map one `array<float>` vector to its
  * M subspace codes against a DRIVER-HELD codebook, as a single
  * expression node — the same O(1)-plan-size kernel strategy as
  * [[BestCentroid]], for the same reason at a worse exponent.
  *
  * The literal-expanded encode (per subspace: `array_max` over K'
  * `struct(score, -j)` entries, each score a d/M-term dot product) is
  * O(M·K'·d/M) = O(K'·d) expression nodes — ~1,000 at the gate's
  * M=16/K'=16/d=64, already the dominant fixed cost of the p24 bench
  * entry (janino recompiles it per session), and production PQ uses
  * K'=256 where the expansion is ~16,000 nodes: analysis, codegen,
  * and task-binary size all blow up exactly like the r13 k-means
  * argmax. This node is O(1) plan size for any M·K': the codebook
  * rides `ctx.addReferenceObj` into the generated class, per-row work
  * is one tight JIT'd loop, still inside whole-stage codegen.
  *
  * Math is BIT-IDENTICAL to the expanded form (PipelineSpec fuzzes
  * the parity row-by-row): float elements promote to double, each
  * subspace dot accumulates left-to-right, score_j =
  * round(dot − halfCc_j, 6) with halfCc_j = 0.5·Σc² folded
  * left-to-right AT CONSTRUCTION (the expanded form bakes the same
  * driver-computed sum into its literals), rounding is HALF_UP with
  * NaN/Inf passthrough (Spark `round` semantics), argmax is
  * strictly-greater via `Double.compare` ⇒ ties take the smallest
  * code and NaN ranks greatest (Spark's double ordering in
  * `array_max`). Dimension mismatch fails loudly, mirroring the
  * expanded path's ANSI out-of-bounds `getItem` throw.
  *
  * Returns `array<int>` of length M.
  */
case class PqEncode(child: Expression, codebook: Array[Array[Array[Double]]])
    extends UnaryExpression {
  require(codebook.nonEmpty && codebook.head.nonEmpty && codebook.head.head.nonEmpty,
    "[graft] pq_encode needs a non-empty M×K'×(d/M) codebook")

  @transient private lazy val m = codebook.length
  @transient private lazy val k = codebook.head.length
  @transient private lazy val sub = codebook.head.head.length
  @transient private lazy val dim: Int = {
    require(codebook.forall(s => s.length == k && s.forall(_.length == sub)),
      "[graft] pq_encode: ragged codebook — all subspaces need K' entries of d/M dims")
    m * sub
  }
  @transient private lazy val halfCc: Array[Array[Double]] =
    Array.tabulate(m, k)((mm, j) => 0.5 * codebook(mm)(j).map(x => x * x).sum)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"pq_encode expects array<float|double>, got $dt")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  // float32 corpus vectors (p24/p36/p48) widen to double exactly; the
  // whitened-space path (p50) feeds 6-dp doubles directly
  @transient private lazy val isFloat: Boolean =
    child.dataType match { case ArrayType(FloatType, _) => true; case _ => false }

  /** Public so the generated code can call it (see [[BestCentroid.score]]). */
  def encode(input: Any): ArrayData = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != dim) throw new IllegalArgumentException(
      s"[graft] pq_encode: input vector has ${v.numElements()} elements but the " +
        s"codebook encodes $dim ($m subspaces × $sub) — dimension mismatch")
    val codes = new Array[Int](m)
    val f = isFloat
    var mm = 0
    while (mm < m) {
      val base = mm * sub
      var bestJ = 0
      var bestS = Double.NegativeInfinity
      var j = 0
      while (j < k) {
        val c = codebook(mm)(j)
        var dot = 0.0
        var t = 0
        while (t < sub) {
          val x = if (f) v.getFloat(base + t).toDouble else v.getDouble(base + t)
          dot += x * c(t); t += 1
        }
        val raw = dot - halfCc(mm)(j)
        val sc = if (raw.isNaN || raw.isInfinite) raw
          else BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        if (java.lang.Double.compare(sc, bestS) > 0) { bestS = sc; bestJ = j }
        j += 1
      }
      codes(mm) = bestJ
      mm += 1
    }
    new GenericArrayData(codes)
  }

  override def nullSafeEval(input: Any): Any = encode(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val kernel = ctx.addReferenceObj("pqEncodeKernel", this, classOf[PqEncode].getName)
      s"${ev.value} = $kernel.encode($x);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorExpressions {
  /** Register `float_dot` in the session function registry so it is
    * callable from SQL/expr strings (Spark 4 removed public
    * Column-from-Expression construction). Idempotent. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "float_dot", exprs => FloatDotProduct(exprs.head, exprs(1)), "built-in")

  /** Register a [[PqEncode]] kernel for `codebook` under a fresh unique
    * name ([[TempFunctions]]); the caller drops it with
    * [[TempFunctions.drop]] once its frames are built. */
  def registerPqEncode(spark: SparkSession, codebook: Array[Array[Array[Double]]]): String =
    TempFunctions.register(spark, "graft_pq_encode", exprs => PqEncode(exprs.head, codebook))
}
