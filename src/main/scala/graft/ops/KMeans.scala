package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed Lloyd's k-means over an `array<float>` embedding column
  * with cosine (spherical) assignment — the IVF TRAIN step that
  * `queries.Pipeline` p12 deliberately skips ("train-free" seeding from
  * the first K vectors). The reference has no vector indexing at all
  * (it is a CDC forwarder, `/root/reference/src/main.ts`); this is part
  * of the charter's LLM-pipeline surface, where a real 100 TB corpus
  * trains its coarse quantizer on the data instead of hoping the first
  * K rows span it.
  *
  * Shape per iteration (the whole point at scale):
  *   1. ASSIGN — one scan of the corpus; each row scores K centroids
  *      through a codegen'd literal-expanded dot product (the centroids
  *      are driver-held constants, so the comparison is a pure
  *      projection: no join, no shuffle, no UDF) and folds to the
  *      argmax-cosine cluster with a strictly-greater chain (ties →
  *      smallest cluster id, matching `ROW_NUMBER ... ORDER BY cos
  *      DESC, cent_id`).
  *   2. UPDATE — `groupBy(cluster)` over K keys with a typed
  *      [[graft.functions.VecCentroid]] partial aggregate: every task
  *      emits K×dim partial sums, the shuffle moves O(K·dim·tasks)
  *      doubles, never the corpus. The K result rows are collected to
  *      the driver (bounded by construction, like the streaming
  *      census) and re-literalized for the next iteration.
  *
  * Driver state is K×dim doubles; corpus rows are never collected.
  * At K in the thousands the literal expansion would bloat the plan —
  * above [[kernelCellThreshold]] K·dim cells the scoring switches to
  * the [[graft.expressions.BestCentroid]] kernel expression (O(1)
  * plan nodes, centroid matrix carried once in the serialized plan),
  * same algorithm, bit-identical math (KMeansSpec pins the parity).
  *
  * Determinism discipline (same as p9–p12): float loads promote to
  * double before any arithmetic; every cosine is ROUNDed to 6 dp
  * before ranking; every updated centroid coordinate is ROUNDed to
  * 6 dp (HALF_UP — Spark `round` and DuckDB `ROUND` semantics) before
  * it feeds the next iteration, so Spark and the SQL oracle walk
  * bit-identical centroid trajectories regardless of float addition
  * order. Empty clusters RETAIN their previous centroid (both sides
  * via the same keep-if-no-members rule).
  *
  * The spherical k-means objective — the sum over rows of the best
  * (rounded) cosine — is recorded per iteration; mean-update spherical
  * k-means is non-decreasing in this objective, which KMeansSpec pins
  * as the convergence witness.
  */
object KMeans {

  /** Trained coarse quantizer: `centroids(j)` is cluster j's centroid
    * (rounded 6 dp), `sizes(j)` its member count in the FINAL
    * assignment (the one that produced the final centroids; 0 for an
    * empty cluster), `seedIds(j)` the vector that seeded it,
    * `objective(t)` the summed best-cosine after iteration t's
    * assignment, `degenerate` the count of zero-norm input vectors the
    * trainer excluded (0 unless `dropDegenerate`, the default, found
    * any — surfaced so a curation run can report what it skipped). */
  final case class Model(
      centroids: Array[Array[Double]],
      sizes: Array[Long],
      seedIds: Array[Long],
      objective: Array[Double],
      degenerate: Long = 0L)

  private def round6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Rounded cosine of `vecCol` (array<float>, via its precomputed
    * norm column) against a constant centroid: literal-expanded dot,
    * left-to-right — stays inside whole-stage codegen. Shared with the
    * p22 probe ranking so query→centroid scores are bit-identical to
    * the trainer's own scoring. */
  private[graft] def cosineTo(vecCol: String, nrmCol: String, c: Array[Double]): Column = {
    val dot = c.indices.map(i => col(vecCol).getItem(i).cast("double") * lit(c(i)))
      .reduce(_ + _)
    val cnrm = math.sqrt(c.map(x => x * x).sum)
    round(dot / (col(nrmCol) * lit(cnrm)), 6)
  }

  /** Above this many K·dim "literal cells" the expanded argmax plan
    * gets big enough (analysis cost, generated-code size, task-binary
    * size all O(K·dim)) that the O(1)-plan kernel expression wins. */
  private[graft] val kernelCellThreshold = 4096L

  /** Argmax-cosine cluster over constant centroids as a single
    * projection column pair (cluster, best rounded cosine). Two
    * bit-identical strategies, picked by plan size:
    * small K·dim → literal-expanded arithmetic (pure whole-stage
    * codegen), large K·dim → the [[graft.expressions.BestCentroid]]
    * kernel (O(1) plan nodes, matrix rides the serialized plan). */
  private def bestCluster(s: org.apache.spark.sql.SparkSession, vecCol: String,
      nrmCol: String, cents: Array[Array[Double]],
      forceKernel: Boolean = false): (Column, Column, Option[String]) =
    if (forceKernel || cents.length.toLong * cents.head.length > kernelCellThreshold) {
      val (c, cos, fn) = bestClusterKernelNamed(s, vecCol, cents)
      (c, cos, Some(fn))
    } else {
      val (c, cos) = bestClusterExpanded(vecCol, nrmCol, cents)
      (c, cos, None)
    }

  /** Expanded form: each cosine is built EXACTLY ONCE into
    * `array(struct(cos, -j))` and the winner is `array_max` (struct
    * ordering: cos first, then the negated id, so a cosine tie
    * resolves to the SMALLEST cluster id — same rule as
    * `ROW_NUMBER ... ORDER BY cos DESC, cent_id`). O(K·dim)
    * expression nodes total. The r13 `when(c > bc, …)` fold
    * re-embedded the accumulated best-cosine chain at every step —
    * O(K²·dim) nodes, which at K=8×dim=64 blew the 64 KB JVM codegen
    * limit (interpreted fallback) and serialized 30–59 MiB task
    * binaries; this form stays inside whole-stage codegen. */
  private[graft] def bestClusterExpanded(vecCol: String, nrmCol: String,
      cents: Array[Array[Double]]): (Column, Column) = {
    val scored = cents.zipWithIndex.map { case (c, j) =>
      struct(cosineTo(vecCol, nrmCol, c).as("c"), lit(-j).as("nj"))
    }
    val best = array_max(array(scored: _*))
    (-best.getField("nj"), best.getField("c"))
  }

  /** Kernel form: ONE expression node scoring the whole centroid
    * matrix per row ([[graft.expressions.BestCentroid]]) — the large-K
    * scale path (K in the thousands would make even the linear
    * expansion a plan-size problem), reached through a uniquely-named
    * temp function ([[graft.expressions.TempFunctions]]); registration
    * is driver-side and cheap. Math is pinned bit-identical to the expanded form in
    * KMeansSpec (including the NaN-greatest ordering on degenerate
    * zero-norm rows), so the strategy switch can never change
    * results. */
  private[graft] def bestClusterKernel(s: org.apache.spark.sql.SparkSession,
      vecCol: String, cents: Array[Array[Double]]): (Column, Column) = {
    val (c, cos, _) = bestClusterKernelNamed(s, vecCol, cents)
    (c, cos) // test-surface variant: caller owns (and may keep) the registration
  }

  private def bestClusterKernelNamed(s: org.apache.spark.sql.SparkSession,
      vecCol: String, cents: Array[Array[Double]]): (Column, Column, String) = {
    val fn = graft.expressions.TempFunctions.register(s, "graft_best_centroid",
      exprs => graft.expressions.BestCentroid(exprs.head, cents))
    val best = expr(s"$fn($vecCol)")
    (best.getField("cluster"), best.getField("cos"), fn)
  }

  /** Train on `vectors(idCol, vecCol)`; seeds = the K rows with the
    * smallest `idCol` (deterministic, the same rule p12 uses).
    * `vectors` is scanned `iters` times — pass a persisted frame when
    * the upstream is expensive. Requires
    * `graft.expressions.VectorExpressions.register` (norm uses the
    * codegen'd float_dot). */
  /** `forceKernel = true` scores through [[bestClusterKernel]] even
    * below [[kernelCellThreshold]]. The two strategies are
    * bit-identical (fuzz-pinned), so this is purely a cost choice:
    * each expanded-plan iteration janino-compiles a fresh K·dim-wide
    * whole-stage projection (the literals change every iteration), and
    * at small corpus sizes that compile dominates the arithmetic —
    * p20b (K=80, kernel) runs ~5× faster than p20 (K=8, expanded) on
    * the same corpus. The threshold default keeps the expanded plan
    * where its fused arithmetic wins on big scans; callers that
    * iterate (training) or chain stages (p22) opt into the kernel. */
  /** `afterSeed` runs once, right after the seed TakeOrdered completes
    * (before the first training iteration). Callers use it to submit
    * INDEPENDENT concurrent jobs that must not race the shared input
    * cache's materialization (the seed job is what fills it): p36/p48/
    * p51 launch the PQ codebook collect here so it overlaps the
    * training iterations instead of running after them (guide §2.6). */
  def fit(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, dropDegenerate: Boolean = true,
      forceKernel: Boolean = false,
      afterSeed: () => Unit = () => ()): Model = {
    require(k > 0 && iters > 0, s"[graft] kmeans needs k>0, iters>0 (got k=$k, iters=$iters)")
    val raw = vectors.select(
      col(idCol), col(vecCol),
      expr(graft.functions.VectorFns.fastNormExpr(vecCol)).as("__nrm"))

    // Degenerate-vector policy: a zero-norm vector has no cosine, and
    // both argmax strategies refuse it loudly (ANSI divide / kernel
    // throw) — correct for a gate, brutal for a 100 TB training run
    // that dies at iteration 40 on one bad row. Default: exclude them
    // with a SURFACED count (Model.degenerate + a warn log).
    // NaN-payload vectors are NOT filtered (Spark orders NaN greatest,
    // so `> 0.0` keeps them): their pinned NaN-cosine ranking applies.
    // Opt out (dropDegenerate=false) to keep the loud refusal.
    //
    // r21 optimization (guide §1.2: fewer passes): the exclusion count
    // used to be its OWN full-corpus count() job before seeding; it now
    // rides the seed job as an observe() metric on the pre-filter scan
    // (the seed TakeOrdered visits every partition, so the metric is
    // exact). One full corpus pass per fit removed; the filter itself
    // is applied unconditionally — on a clean corpus it keeps every
    // row, so the training set (and the trajectory) is unchanged.
    val obs = if (dropDegenerate)
      Some(new org.apache.spark.sql.Observation()) else None
    // the observed frame backs ONLY the seed job (iteration plans stay
    // free of the CollectMetrics node); withNrm is the training input
    val withNrm =
      if (dropDegenerate) raw.filter(col("__nrm") > 0.0) else raw
    val seedSrc = obs match {
      case Some(o) =>
        raw.observe(o, sum(when(!(col("__nrm") > 0.0), 1L).otherwise(0L)).as("bad"))
          .filter(col("__nrm") > 0.0)
      case None => raw
    }

    val seeds = seedSrc.orderBy(col(idCol)).limit(k)
      .select(col(idCol), col(vecCol)).collect()
    afterSeed()
    val nDegenerate = obs.map { o =>
      val bad = o.get.get("bad") match {
        case Some(v: Long) => v
        case _ => 0L // null sum = zero rows scanned = nothing excluded
      }
      if (bad > 0) org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"[graft] kmeans: excluded $bad zero-norm vector(s) from training")
      bad
    }.getOrElse(0L)
    require(seeds.length == k,
      s"[graft] kmeans asked for k=$k seeds but the corpus has only ${seeds.length} rows")
    val seedIds = seeds.map(_.getLong(0))
    // element-type dispatch (float corpus vs whitened 6-dp doubles,
    // p51): float widens to double exactly, so the two paths agree
    // bit-for-bit on any float corpus
    val isFloat = vectors.schema(vecCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => true
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, _) => false
      case dt => throw new IllegalArgumentException(
        s"[graft] kmeans expects array<float|double> in '$vecCol', got $dt")
    }
    var cents: Array[Array[Double]] =
      if (isFloat) seeds.map(_.getSeq[Float](1).toArray.map(f => round6(f.toDouble)))
      else seeds.map(_.getSeq[Double](1).toArray.map(round6))
    val dim = cents.head.length
    require(cents.forall(_.length == dim),
      s"[graft] kmeans seeds disagree on dimension (expected $dim)")

    val centroidUdaf =
      if (isFloat) udaf(new graft.functions.VecCentroid(dim))
      else udaf(new graft.functions.VecCentroidDouble(dim))
    var sizes = Array.fill[Long](k)(0L)
    val objective = Array.fill(iters)(0.0)

    for (t <- 0 until iters) {
      val (clusterCol, cosCol, fnOpt) =
        bestCluster(vectors.sparkSession, vecCol, "__nrm", cents, forceKernel)
      // one distributed job per iteration: scan → project(score) →
      // K-key partial agg; the collect is K rows of (mean, count, Σcos)
      val frame = withNrm
        .select(col(vecCol), clusterCol.as("__cluster"), cosCol.as("__cos"))
        .groupBy(col("__cluster"))
        .agg(centroidUdaf(col(vecCol)).as("c"),
          count(lit(1)).as("n"), sum(col("__cos")).as("obj"))
      // Dataset construction above eagerly analyzed the plan, so this
      // iteration's kernel registration (if any) is no longer needed
      fnOpt.foreach(graft.expressions.TempFunctions.drop(vectors.sparkSession, _))
      val updated = frame.collect()
      val next = cents.map(_.clone()) // empty cluster keeps its centroid
      sizes = Array.fill[Long](k)(0L)
      updated.foreach { r =>
        val j = r.getInt(0)
        next(j) = r.getSeq[Double](1).toArray.map(round6)
        sizes(j) = r.getLong(2)
        objective(t) += r.getDouble(3)
      }
      cents = next
    }
    Model(cents, sizes, seedIds, objective, nDegenerate)
  }

  /** Final-model assignment: `vectors` plus `cluster` (int) and
    * `cosine` (the rounded best cosine) — the IVF list build. Same
    * scoring expression the trainer used, so assignments match the
    * trajectory's last step exactly. */
  def assign(vectors: DataFrame, vecCol: String, model: Model,
      forceKernel: Boolean = false): DataFrame = {
    val withNrm = vectors.withColumn("__nrm",
      expr(graft.functions.VectorFns.fastNormExpr(vecCol)))
    val (clusterCol, cosCol, fnOpt) =
      bestCluster(vectors.sparkSession, vecCol, "__nrm", model.centroids, forceKernel)
    val out = withNrm.withColumn("cluster", clusterCol).withColumn("cosine", cosCol)
      .drop("__nrm")
    fnOpt.foreach(graft.expressions.TempFunctions.drop(vectors.sparkSession, _)) // out is analyzed; registration done
    out
  }
}
