package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measured scale curve for the near-dup dedup path (p13's shape):
  * runs MinHash-LSH pair generation + connected-components cluster
  * resolution on the harness `documents` table at 1× and on a
  * replicated ~5× copy, and prints one JSON line per scale point with
  * doc/pair counts, CC round count, and wall-clock split by stage.
  *
  * Purpose: turn SCALE.md's 100 TB design argument into data — the
  * claim is (a) CC rounds stay O(log diameter) as the corpus grows,
  * and (b) pair-stage wall-clock tracks the candidate volume, not the
  * all-pairs square. The 5× corpus replicates every doc with fresh
  * doc_ids, so each original near-dup pair becomes a 5×5 clique-cross
  * and every doc gains 4 exact copies — pair volume grows ~25× while
  * docs grow 5×, a deliberately adversarial densification (components
  * get BIGGER, not just more numerous).
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 runMain graft.ScaleSmoke
  * Optional args select sections: dedup | cdc | cdc_throughput |
  * cdc_multi | cdc_relcount | cdc_soak | ann (no args = all; unknown
  * args fail loudly rather than silently selecting nothing).
  */
object ScaleSmoke {
  /** Locale-fixed float → JSON: the f"" interpolator uses the JVM
    * default locale, which on comma-decimal locales emits invalid JSON
    * ("0,48"). Same discipline as Bench's BigDecimal fmt. */
  private def fx(v: Double, dp: Int): String =
    String.format(java.util.Locale.ROOT, "%." + dp + "f", Double.box(v))

  private val sections =
    Set("dedup", "dedup_skew", "cdc", "cdc_throughput", "cdc_multi", "cdc_relcount",
      "cdc_soak", "cdc_bar", "cdc_partitioned", "ann", "kmeans_kernel",
      "pq_encode", "pack_skew", "semdedup", "incremental", "spanscrub",
      "pca", "cms", "hll", "bloom", "scd2", "ann_filtered", "rrf", "index_store",
      "scd2_compact", "dedup_maintain")

  def main(args: Array[String]): Unit = {
    val only = args.toSet
    require(only.subsetOf(sections),
      s"[graft] unknown ScaleSmoke section(s) ${(only -- sections).mkString(", ")} — " +
        s"valid: ${sections.toSeq.sorted.mkString(", ")}")
    def want(s: String) = only.isEmpty || only(s)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(defaultCpus = "32")

    val docs = sources.Tables.documents(spark, sfDir)
    val maxId = docs.agg(max(col("doc_id"))).head.getLong(0) + 1L

    def scaledDir(factor: Int): String = {
      if (factor == 1) return sfDir
      val dir = java.nio.file.Files.createTempDirectory(s"graft_scale_${factor}x")
      val copies = (0 until factor).map { i =>
        docs.withColumn("doc_id", col("doc_id") + lit(i * maxId))
      }.reduce(_ unionByName _)
      copies.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir.toString
    }

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // unmeasured warmup: JIT/codegen/shuffle machinery bills to nobody,
    // or the 1x point pays the whole JVM cold start and the curve lies.
    // Runs for ANY wall-clock-curve section (dedup/ann) — the cdc
    // curves exclude batch 0 instead, which absorbs their cold start.
    if (want("dedup") || want("ann")) {
      val w = queries.Pipeline.minhashPairs(spark, sfDir)
        .select(col("da"), col("db")).persist()
      ops.Dedup.connectedComponents(w, "da", "db").count()
      w.unpersist()
      spark.catalog.clearCache()
    }

    for (factor <- Seq(1, 5) if want("dedup")) {
      val dir = scaledDir(factor)
      val nDocs = sources.Tables.documents(spark, dir).count()
      val (pairs, pairSec) = timed {
        val p = queries.Pipeline.minhashPairs(spark, dir)
          .select(col("da"), col("db")).persist()
        p.count() // materialize: bill pair generation to this stage only
        p
      }
      val nPairs = pairs.count()
      val ((comps, rounds), ccSec) = timed {
        val (c, r) = ops.Dedup.connectedComponentsWithRounds(pairs, "da", "db")
        c.count() // checkpoint-backed: already materialized, count is cheap
        (c, r)
      }
      val nClusters = comps.select(col("cluster_rep")).distinct().count()
      val largest = comps.groupBy(col("cluster_rep")).agg(count(lit(1)).as("n"))
        .agg(max(col("n"))).head.getLong(0)
      pairs.unpersist()
      println(s"""{"metric":"dedup_scale","factor":$factor,"docs":$nDocs,"pairs":$nPairs,""" +
        s""""cc_rounds":$rounds,"clusters":$nClusters,"largest_cluster":$largest,""" +
        s""""pair_stage_sec":${fx(pairSec, 2)},"cc_stage_sec":${fx(ccSec, 2)}}""")
      spark.catalog.clearCache()
    }

    if (want("dedup_skew")) dedupSkewCurve(spark)
    if (want("cdc")) cdcStateCurve(spark)
    if (want("cdc_throughput")) cdcThroughputCurve(spark)
    if (want("cdc_multi")) cdcMultiThroughput(spark)
    if (want("cdc_relcount")) cdcRelationCountCurve(spark)
    if (want("cdc_soak")) cdcSoak(spark)
    if (want("cdc_bar")) cdcBar(spark)
    if (want("cdc_partitioned")) cdcPartitioned(spark)
    if (want("scd2")) scd2StateCurve(spark)
    if (want("ann")) annCurve(spark, sfDir)
    if (want("kmeans_kernel")) kmeansKernelCurve(spark, sfDir)
    if (want("pq_encode")) pqEncodeCurve(spark, sfDir)
    if (want("pack_skew")) packSkewCurve(spark)
    if (want("semdedup")) semdedupCurve(spark, sfDir)
    if (want("incremental")) incrementalCurve(spark, sfDir)
    if (want("spanscrub")) spanScrubCurve(spark)
    if (want("pca")) pcaCurve(spark, sfDir)
    if (want("cms")) cmsCurve(spark, sfDir)
    if (want("hll")) hllCurve(spark, sfDir)
    if (want("bloom")) bloomCurve(spark, sfDir)
    if (want("ann_filtered")) annFilteredCurve(spark, sfDir)
    if (want("rrf")) rrfCurve(spark, sfDir)
    if (want("index_store")) indexStoreCurve(spark, sfDir)
    if (want("scd2_compact")) scd2CompactCurve(spark)
    if (want("dedup_maintain")) dedupMaintainCurve(spark, sfDir)
    spark.stop()
  }

  /** Streaming dedup-index maintenance vs index size: fixed 100-doc
    * ingest batches decided against seed indexes grown 1×/5×/25×
    * (corpus docs replicated under fresh ids — every replica is a
    * band-collision magnet, densifying the candidate join). The claim
    * being measured, honestly: candidate PAIR volume is O(batch bands ×
    * matching buckets) — never index×index — but the band equi-join
    * still SCANS the stored band table once per batch, so per-batch
    * wall-clock grows sub-linearly with the index until that scan
    * dominates; at 100 TB the band table buckets by band_val so the
    * join is shuffle-free and the scan prunes (the ops/Layout dial —
    * same table, bucketed layout). Batch 0 excluded (stream-start
    * warmup). */
  private def dedupMaintainCurve(spark: SparkSession, sfDir: String): Unit = {
    val docs = sources.Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val inc = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .orderBy(col("doc_id")).limit(400).collect()
    val maxId = docs.agg(max(col("doc_id"))).head.getLong(0) + 1L
    for (f <- Seq(1, 5, 25)) {
      val seedDocs = (0 until f).map(i =>
        corpus.withColumn("doc_id", col("doc_id") + lit(i * maxId)))
        .reduce(_ unionByName _).persist()
      val nSeed = seedDocs.count()
      val (bands, shingles) = queries.Pipeline.dedupIndexTables(
        queries.Pipeline.docShingleFrame(seedDocs))
      val root = java.nio.file.Files.createTempDirectory(s"graft_dmcurve_$f").toString
      ops.IndexStore.save(bands.withColumn("batch_id", lit(-1L)),
        s"$root/bands", "minhash_bands", Map("bands" -> "2"), partitionCols = Seq("batch_id"))
      ops.IndexStore.save(shingles.withColumn("batch_id", lit(-1L)),
        s"$root/shingles", "shingle_sets", partitionCols = Seq("batch_id"))
      seedDocs.unpersist(); spark.catalog.clearCache()
      val streamDir = java.nio.file.Files.createTempDirectory(s"graft_dmcurve_in_$f")
      val t0 = System.currentTimeMillis() - 20000L
      import spark.implicits._
      inc.grouped(100).take(4).zipWithIndex.foreach { case (chunk, i) =>
        val tmp = java.nio.file.Files.createTempDirectory(s"graft_dmcurve_c$i")
        chunk.map(r => (r.getLong(0), r.getString(1))).toSeq.toDF("doc_id", "text")
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = new java.io.File(tmp.toString).listFiles()
          .find(x => x.getName.endsWith(".parquet") && !x.getName.startsWith(".")).get
        val dst = streamDir.resolve(f"chunk_$i%04d.parquet")
        java.nio.file.Files.move(part.toPath, dst)
        dst.toFile.setLastModified(t0 + i * 2000L)
      }
      withBatchDurations(spark) { (batchMs, quiesce) =>
        val ckpt = java.nio.file.Files.createTempDirectory(s"graft_dmcurve_ck_$f").toString
        val q = streaming.Streams.maintainDedupIndex(
          spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(streamDir.toString),
          ckpt, root)
        q.awaitTermination(); quiesce()
        val ms = batchMs(q.runId).drop(1) // batch 0 = warmup
        val mean = if (ms.isEmpty) 0.0 else ms.sum.toDouble / ms.size
        // an append log of every batch: plain inference, not Tables.readParquet
        val nDec = spark.read.parquet(s"$root/decisions").count()
        println(s"""{"metric":"dedup_maintain","factor":$f,"index_docs":$nSeed,""" +
          s""""batches":${ms.size + 1},"decided":$nDec,"mean_batch_ms":${fx(mean, 0)}}""")
      }
      spark.catalog.clearCache()
    }
  }

  /** SCD2 compaction growth witness: a churned type-2 history (20
    * versions per key, 19 closed + 1 open) compacted at a horizon that
    * keeps the newest closed interval per key. The claim: history size
    * before is O(all versions ever), after is O(live keys + churn
    * inside the horizon) — a 10× row cut at this churn ratio,
    * independent of scale — and compaction itself is one
    * filter+rewrite pass (linear in state). `scd2AsOf(max)` row counts
    * are asserted identical before/after. */
  private def scd2CompactCurve(spark: SparkSession): Unit =
    for (scale <- Seq(1, 4, 16); buckets <- Seq(0, 256)
         if buckets == 0 || scale == 16) {
      val keys = 50000L * scale
      val versions = 20
      val base = spark.range(keys).select(col("id"),
          explode(expr(s"sequence(0, ${versions - 1})")).as("v"))
        .select(col("id"),
          concat(lit("fn"), col("id"), lit("_v"), col("v")).as("firstName"),
          (col("v") * 16 + 16).as("valid_from"),
          when(col("v") < versions - 1, col("v") * 16 + 32)
            .otherwise(lit(null).cast("long")).as("valid_to"),
          when(col("v") < versions - 1, lit(0)).otherwise(lit(1)).as("is_current"))
      val root = java.nio.file.Files.createTempDirectory(s"graft_scd2cmp_$scale").toString
      val state = s"$root/history"
      if (buckets > 0)
        base.withColumn("graft_bucket", streaming.Streams.bucketExpr("id", buckets))
          .repartition(col("graft_bucket"))
          .write.mode("overwrite").partitionBy("graft_bucket").parquet(state)
      else base.write.mode("overwrite").parquet(state)
      def rows() = spark.read.parquet(state).count()
      def bytes() = {
        val p = new org.apache.hadoop.fs.Path(state)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getContentSummary(p).getLength
      }
      val maxLsn = versions.toLong * 16 + 16
      val liveBefore = streaming.Streams.scd2AsOfState(spark, state, maxLsn).count()
      val (rowsBefore, bytesBefore) = (rows(), bytes())
      // keep the open row + the newest closed interval per key
      val horizon = (versions - 3).toLong * 16 + 32
      val t0 = System.nanoTime()
      streaming.Streams.compactScd2(spark, state, horizon)
      val sec = (System.nanoTime() - t0) / 1e9
      val (rowsAfter, bytesAfter) = (rows(), bytes())
      require(streaming.Streams.scd2AsOfState(spark, state, maxLsn).count() == liveBefore,
        "compaction changed the live row count")
      println(s"""{"metric":"scd2_compact","keys":$keys,"buckets":$buckets,""" +
        s""""rows_before":$rowsBefore,"rows_after":$rowsAfter,""" +
        s""""mb_before":${fx(bytesBefore / 1048576.0, 1)},"mb_after":${fx(bytesAfter / 1048576.0, 1)},""" +
        s""""compact_sec":${fx(sec, 2)}}""")
      spark.catalog.clearCache()
    }

  /** IndexStore scale witness: the index-build vs query-time split the
    * persistent store exists for. Three timings per scale point over
    * the p22 stack: BUILD (train + assign + save both artifacts),
    * SERVE (load + routed search — what a query run pays), and
    * RETRAIN (train + search per run — what the self-contained gate
    * pays). The claim: serve-from-loaded cuts the per-run cost to the
    * search alone, and the gap widens with corpus size because
    * training rescans the corpus ×iters while the loaded path scans it
    * once for the rescore. */
  private def indexStoreCurve(spark: SparkSession, sfDir: String): Unit = {
    graft.expressions.VectorExpressions.register(spark)
    val embs = sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val maxId = embs.agg(max(col("vec_id"))).head.getLong(0) + 1L
    def scaled(f: Int) =
      if (f == 1) embs
      else (0 until f).map(i => embs.withColumn("vec_id", col("vec_id") + lit(i * maxId)))
        .reduce(_ unionByName _)
    def sec(t0: Long): Double = (System.nanoTime() - t0) / 1e9
    // warmup off-clock: codegen, kernel registration, parquet writer
    locally {
      val e = embs.persist(); e.count()
      val m = ops.KMeans.fit(e, "vec_id", "embedding",
        queries.Pipeline.kmK, queries.Pipeline.kmIters, forceKernel = true)
      val l = ops.KMeans.assign(e, "embedding", m, forceKernel = true)
        .select(col("vec_id"), col("cluster").as("list_id"))
      queries.Pipeline.trainedIvfSearch(e, m, l).count()
      e.unpersist(); spark.catalog.clearCache()
    }
    for (f <- Seq(1, 5, 25)) {
      val e = scaled(f).persist()
      val n = e.count()
      val root = java.nio.file.Files.createTempDirectory(s"graft_idxcurve_$f").toString
      val tb = System.nanoTime()
      val m = ops.KMeans.fit(e, "vec_id", "embedding",
        queries.Pipeline.kmK, queries.Pipeline.kmIters, forceKernel = true)
      val lists = ops.KMeans.assign(e, "embedding", m, forceKernel = true)
        .select(col("vec_id"), col("cluster").as("list_id"))
      ops.IndexStore.saveKMeans(spark, m, s"$root/model")
      ops.IndexStore.saveMembership(lists, s"$root/lists", queries.Pipeline.kmK)
      val buildSec = sec(tb)
      val ts = System.nanoTime()
      val lm = ops.IndexStore.loadKMeans(spark, s"$root/model")
      val (ll, _) = ops.IndexStore.loadMembership(spark, s"$root/lists")
      queries.Pipeline.trainedIvfSearch(e, lm, ll).count()
      val serveSec = sec(ts)
      val tr = System.nanoTime()
      val m2 = ops.KMeans.fit(e, "vec_id", "embedding",
        queries.Pipeline.kmK, queries.Pipeline.kmIters, forceKernel = true)
      val l2 = ops.KMeans.assign(e, "embedding", m2, forceKernel = true)
        .select(col("vec_id"), col("cluster").as("list_id")).persist()
      queries.Pipeline.trainedIvfSearch(e, m2, l2).count()
      val retrainSec = sec(tr)
      l2.unpersist(); e.unpersist(); spark.catalog.clearCache()
      println(s"""{"metric":"index_store","factor":$f,"vecs":$n,""" +
        s""""build_sec":${fx(buildSec, 2)},"serve_from_loaded_sec":${fx(serveSec, 2)},""" +
        s""""retrain_per_run_sec":${fx(retrainSec, 2)}}""")
    }
  }

  /** p40 scale witness: power-iteration fit wall-clock vs corpus
    * factor. Per iteration the plan is one scan + a 64-key partial
    * agg, so fit time should grow ≤ linearly with vectors (at fixture
    * scale plan/driver overhead dominates and the curve reads nearly
    * FLAT — the point: iteration cost is scan-bound, never
    * super-linear). */
  private def pcaCurve(spark: SparkSession, sfDir: String): Unit = {
    val embs = sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val maxId = embs.agg(max(col("vec_id"))).head.getLong(0) + 1L
    def scaled(f: Int) =
      if (f == 1) embs
      else (0 until f).map(i => embs.withColumn("vec_id", col("vec_id") + lit(i * maxId)))
        .reduce(_ unionByName _)
    queries.Pipeline.pcaFit(embs, 1) // warmup: codegen + agg machinery off-clock
    for (f <- Seq(1, 5, 25)) {
      val e = scaled(f).persist()
      val n = e.count() // inputs built off-clock
      val t0 = System.nanoTime()
      val (_, traj) = queries.Pipeline.pcaFit(e, 3)
      val sec = (System.nanoTime() - t0) / 1e9
      e.unpersist()
      println(s"""{"metric":"pca_power_iter","factor":$f,"vecs":$n,"iters":3,""" +
        s""""fit_sec":${fx(sec, 2)},"sec_per_iter":${fx(sec / 3, 2)},""" +
        s""""lam3":${traj.last._2}}""")
    }
  }

  /** p41 scale witness: the count-min sketch build vs corpus factor.
    * The cells agg has ≤ depth×width keys by construction, so map-side
    * combine collapses every task and the OUTPUT is bounded (the
    * distributed/streaming merge story); build wall-clock grows with
    * instances only through the scan. */
  private def cmsCurve(spark: SparkSession, sfDir: String): Unit = {
    import graft.functions.TextFns
    val depth = queries.Pipeline.cmsDepth
    val width = queries.Pipeline.cmsWidth
    val inst0 = sources.Tables.documents(spark, sfDir)
      .filter(col("lang") === "en")
      .withColumn("toks", expr(TextFns.tokensExpr("text")))
      .select(explode(expr(TextFns.shinglesExpr("toks", 2))).as("big"))
      .persist()
    inst0.count()
    def cellsOf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("big"), explode(array((0 until depth).map(lit): _*)).as("k"))
      .withColumn("bucket", expr(
        s"${TextFns.md5IntScalarExpr("concat(CAST(k AS STRING), ':', big)")} % $width"))
      .groupBy(col("k"), col("bucket")).agg(count(lit(1)).as("cnt"))
    cellsOf(inst0).count() // warmup off-clock
    for (f <- Seq(1, 5, 25)) {
      val inst = (0 until f).map(_ => inst0).reduce(_ unionByName _)
      val n = inst0.count() * f
      val t0 = System.nanoTime()
      val cells = cellsOf(inst)
      val (nCells, total) = {
        val r = cells.agg(count(lit(1)).as("nc"), sum(col("cnt")).as("s")).head()
        (r.getLong(0), r.getLong(1))
      }
      val sec = (System.nanoTime() - t0) / 1e9
      require(total == depth * n, "every instance lands in exactly one cell per row")
      println(s"""{"metric":"cms_sketch","factor":$f,"instances":$n,""" +
        s""""cells":$nCells,"cell_bound":${depth * width},"build_sec":${fx(sec, 2)}}""")
    }
    inst0.unpersist()
  }

  /** p43 scale witness: the HLL register build vs corpus factor. Two
    * claims made checkable: (1) the register agg's OUTPUT is bounded
    * by langs×256 cells no matter the instance count (max() cells are
    * mergeable — the distributed/streaming distinct structure), and
    * (2) the sketch is DUPLICATE-INSENSITIVE — replicating every
    * instance f× leaves each register's max rank, hence (v, S) and
    * the estimate, bit-identical. Build wall-clock grows only through
    * the scan. */
  private def hllCurve(spark: SparkSession, sfDir: String): Unit = {
    import graft.functions.TextFns
    val inst0 = sources.Tables.documents(spark, sfDir)
      .withColumn("toks", expr(TextFns.tokensExpr("text")))
      .select(col("lang"), explode(expr(TextFns.shinglesExpr("toks", 2))).as("big"))
      .persist()
    inst0.count()
    def skOf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("lang"),
        expr("CAST(conv(substring(md5(big), 1, 15), 16, 10) AS BIGINT)").as("h"))
      .select(col("lang"), expr("h % 256").as("bucket"),
        expr("CASE WHEN shiftright(h, 8) = 0 THEN 53 ELSE 53 - length(bin(shiftright(h, 8))) END").as("rank"))
      .groupBy(col("lang"), col("bucket")).agg(max(col("rank")).as("m_"))
    skOf(inst0).count() // warmup off-clock
    val nLang = inst0.select(col("lang")).distinct().count()
    var base: Map[(String, Long), Int] = Map.empty
    for (f <- Seq(1, 5, 25)) {
      val inst = (0 until f).map(_ => inst0).reduce(_ unionByName _)
      val n = inst0.count() * f
      val t0 = System.nanoTime()
      val regs = skOf(inst).collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
      val sec = (System.nanoTime() - t0) / 1e9
      require(regs.size <= nLang * 256,
        s"register cells must stay bounded by langs x 256, got ${regs.size}")
      if (f == 1) base = regs
      else require(regs == base,
        s"HLL registers must be duplicate-insensitive: factor $f diverged from factor 1")
      println(s"""{"metric":"hll_registers","factor":$f,"instances":$n,""" +
        s""""cells":${regs.size},"cell_bound":${nLang * 256},"build_sec":${fx(sec, 2)}}""")
    }
    inst0.unpersist()
  }

  /** p42 scale witness: the bloom bit table vs DISTINCT-shingle factor
    * (each factor adds f× suffix-fresh shingles, so the insert set
    * really grows — replication would be absorbed by the distinct).
    * The set-bit table is capped at m = ${queries.Pipeline.bloomM}
    * rows NO MATTER the corpus (it saturates, it never grows past m),
    * which is why it broadcasts into the map-side probe at any scale;
    * build wall-clock grows only through the distinct+hash scan. */
  private def bloomCurve(spark: SparkSession, sfDir: String): Unit = {
    import graft.functions.TextFns
    val m = queries.Pipeline.bloomM
    val k = queries.Pipeline.bloomK
    val sh0 = sources.Tables.documents(spark, sfDir)
      .withColumn("toks", expr(TextFns.tokensExpr("text")))
      .select(explode(array_distinct(expr(TextFns.shinglesExpr("toks")))).as("sh"))
      .distinct().persist()
    sh0.count()
    def bitsOf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("sh"), explode(array((0 until k).map(lit): _*)).as("j"))
      .select(expr(
        s"${TextFns.md5IntScalarExpr("concat('b', CAST(j AS STRING), ':', sh)")} % $m").as("bit"))
      .distinct()
    bitsOf(sh0).count() // warmup off-clock
    var prevBits = 0L
    for (f <- Seq(1, 5, 25)) {
      val sh = (0 until f).map(i =>
        if (i == 0) sh0 else sh0.select(concat(col("sh"), lit(s"#$i")).as("sh")))
        .reduce(_ unionByName _)
      val n = sh0.count() * f
      val t0 = System.nanoTime()
      val nBits = bitsOf(sh).count()
      val sec = (System.nanoTime() - t0) / 1e9
      require(nBits <= m, s"set-bit table must stay capped at m=$m, got $nBits")
      require(nBits >= prevBits, "set bits are monotone in the insert set")
      prevBits = nBits
      println(s"""{"metric":"bloom_bits","factor":$f,"distinct_shingles":$n,""" +
        s""""set_bits":$nBits,"bit_cap":$m,"fill":${fx(nBits.toDouble / m, 3)},""" +
        s""""build_sec":${fx(sec, 2)}}""")
    }
    sh0.unpersist()
  }

  /** Long-doc linearity witness for the p32 scrub mask (r17, closing
    * the r16 verdict's "quadratic mask" nit): per doc the r16
    * `filter(toks, (t, i) -> NOT array_contains(cov, i))` form scans
    * the covered-index array once per token — O(n_tok × n_cov) — while
    * the shipped `array_except` mask builds a hash set of cov —
    * O(n_tok + n_cov). Synthetic boilerplate-heavy docs (90% of
    * positions covered) at growing lengths make the difference
    * visible: linear sec/token stays flat as n_tok quadruples, the
    * quadratic form's sec/token grows ~4× per step (so it is only run
    * at the two smaller sizes to keep the smoke bounded). */
  private def spanScrubCurve(spark: SparkSession): Unit = {
    val quadExpr = "filter(toks, (t, i) -> NOT array_contains(cov, i))"
    def mk(nTok: Int) = spark.range(32).select(col("id").as("doc_id"),
        expr(s"transform(sequence(0, ${nTok - 1}), i -> concat('t', i % 97))").as("toks"),
        expr(s"filter(sequence(0, ${nTok - 1}), i -> i % 10 != 0)").as("cov"))
      .persist()
    def run(docs: org.apache.spark.sql.DataFrame, mask: String): Double = {
      val t0 = System.nanoTime()
      // max, not count: count(md5(..)) lets Catalyst skip the mask
      // entirely (measured 0.13 s for a 16 s computation) — the md5
      // value must be REQUIRED for the mask to execute
      docs.select(md5(concat_ws(" ", expr(mask))).as("m")).agg(max(col("m"))).head()
      (System.nanoTime() - t0) / 1e9
    }
    // warmup: codegen + whole pipeline once off-clock
    { val w = mk(500); run(w, graft.queries.Pipeline.scrubKeptToksExpr); run(w, quadExpr); w.unpersist() }
    for (nTok <- Seq(8000, 32000, 128000)) {
      val docs = mk(nTok)
      docs.count() // build the inputs off-clock
      val linSec = run(docs, graft.queries.Pipeline.scrubKeptToksExpr)
      val quadSec = if (nTok <= 32000) fx(run(docs, quadExpr), 2) else "null"
      docs.unpersist()
      println(s"""{"metric":"span_scrub_mask","n_tok":$nTok,"n_docs":32,"cover_frac":0.9,""" +
        s""""linear_sec":${fx(linSec, 2)},"quadratic_sec":$quadSec}""")
    }
  }

  /** Skew-hardening witness for connected components (round-11 verdict
    * item): the CC loop's per-round joins key on LABEL VALUES, and a
    * pathological corpus — one giant near-dup cluster — collapses every
    * label onto the component minimum, funneling the neighbor-min
    * aggregation and the pointer-doubling self-join through one key.
    * DedupScaleSpec pins round-count correctness for these shapes; this
    * section measures whether the per-round WALL-CLOCK survives the
    * funnel at a few million edges, with AQE's skew handling on (the
    * session default).
    *
    * Three shapes at IDENTICAL edge count, synthetic and deterministic
    * (xxhash64-derived endpoints, no RNG state):
    *  - `uniform`: random pairs over E/2 vertices (avg degree 4) — the
    *    healthy-corpus control; many mid-size components;
    *  - `star`: one hub, E spokes — degree skew E at the hub AND total
    *    label collapse onto one value after round 1: the worst case for
    *    both the min-label reduce and the lbl==v self-join;
    *  - `powerlaw`: cubed-uniform source ranks (zipf-ish degrees) over
    *    E/2 vertices — the realistic heavy-tail middle ground with one
    *    giant component.
    *
    * The claim under test: per-round seconds for star/powerlaw stay
    * within a small constant of uniform's (the min-label reduce is
    * PARTIAL-aggregated, so the hot key combines map-side and ships 32
    * partial rows, not E; the self-join's hot build side is one row per
    * label value after the reduce). If the funnel ever breaks that, the
    * fix is salting the label reduce — measured first, not guessed.
    * Rounds differ by shape (diameter), so the comparable number is
    * sec_per_round, not total. */
  private def dedupSkewCurve(spark: SparkSession): Unit = {
    val e = sys.env.getOrElse("SPARK_GRAFT_SKEW_EDGES", "2000000").toLong
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def edgesFor(shape: String): DataFrame = shape match {
      case "uniform" =>
        val v = e / 2
        spark.range(e).select(
          pmod(xxhash64(col("id"), lit("u_src")), lit(v)).as("da"),
          pmod(xxhash64(col("id"), lit("u_dst")), lit(v)).as("db"))
      case "star" =>
        spark.range(e).select(lit(0L).as("da"), (col("id") + 1L).as("db"))
      case "powerlaw" =>
        // source rank = V * u^3: cubing a uniform concentrates mass at
        // low ids (top vertex holds ~1% of all endpoints at 2M edges)
        val v = e / 2
        val u = pmod(xxhash64(col("id"), lit("p_src")), lit(1000000L)) / lit(1000000.0)
        spark.range(e).select(
          floor(lit(v.toDouble) * u * u * u).cast("long").as("da"),
          pmod(xxhash64(col("id"), lit("p_dst")), lit(v)).as("db"))
    }
    // warmup absorbs JVM/codegen cold start (same discipline as the
    // dedup/ann curves); tiny star so it exercises the exact loop
    ops.Dedup.connectedComponents(
      spark.range(1000).select(lit(0L).as("da"), (col("id") + 1L).as("db")),
      "da", "db").count()
    for (shape <- Seq("uniform", "star", "powerlaw")) {
      val pairs = edgesFor(shape).persist()
      pairs.count() // materialize: bill generation to nobody
      val ((comps, rounds), sec) = timed {
        val (c, r) = ops.Dedup.connectedComponentsWithRounds(pairs, "da", "db")
        c.count()
        (c, r)
      }
      val nClusters = comps.select(col("cluster_rep")).distinct().count()
      val largest = comps.groupBy(col("cluster_rep")).agg(count(lit(1)).as("n"))
        .agg(max(col("n"))).head.getLong(0)
      pairs.unpersist()
      println(s"""{"metric":"dedup_skew","shape":"$shape","edges":$e,"cc_rounds":$rounds,""" +
        s""""clusters":$nClusters,"largest_cluster":$largest,""" +
        s""""cc_sec":${fx(sec, 2)},"sec_per_round":${fx(sec / math.max(1, rounds), 2)}}""")
      spark.catalog.clearCache()
    }
  }

  /** Streaming-listener measurement harness shared by the cdc curves:
    * collects per-(runId, batchId) `triggerExecution` and hands the
    * body a lookup plus a quiesce; one definition so a fix to the
    * duration capture can't silently diverge across curves. */
  private def withBatchDurations(spark: SparkSession)(
      body: (java.util.UUID => Seq[Long], () => Unit) => Unit): Unit = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val durations = scala.collection.concurrent.TrieMap[(java.util.UUID, Long), Long]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val d = e.progress.durationMs
        if (d != null && d.containsKey("triggerExecution"))
          durations.put((e.progress.runId, e.progress.batchId), d.get("triggerExecution"))
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    def quiesce(): Unit = {
      var waited = 0
      while (spark.streams.active.nonEmpty && waited < 20000) {
        Thread.sleep(100); waited += 100
      }
    }
    def batchMs(runId: java.util.UUID): Seq[Long] =
      durations.collect { case ((r, b), ms) if r == runId => b -> ms }
        .toSeq.sortBy(_._1).map(_._2)
    try body(batchMs, () => quiesce()) finally spark.streams.removeListener(listener)
  }

  /** CDC materialization per-batch latency vs accumulated state size.
    *
    * Pins the two scale shapes against each other with the same change
    * stream (the ~200-event fixture in 5 micro-batches) over seeded
    * states grown 10× and 100×:
    *  - `parquet_swap` ([[streaming.Streams.materializeCdc]]): the
    *    merge never shuffles the state, but the swap REWRITES it whole
    *    each batch — per-batch cost is O(state) scan+write by design
    *    (the scaladoc points production at a transactional table
    *    format; this measures what the swap costs until then);
    *  - `jdbc` ([[streaming.Streams.materializeCdcJdbc]]): per-batch
    *    work touches only the batch's keys (delete+reinsert) — this is
    *    the flat-latency path, and the curve should show it staying
    *    flat while the swap grows linearly.
    */
  /** materializeScd2 state-growth curve — the cdc_partitioned protocol
    * re-run against the SCD2 history sink: update-heavy micro-batches
    * (6 × 1000 rows over 50 distinct keys, strictly increasing LSNs)
    * against pre-grown histories of 4M/16M/64M open intervals,
    * UNPARTITIONED (rename-aside full rewrite, O(state) writes) vs
    * bucket-partitioned (seeded already-partitioned, n capped at 1024
    * — every batch steady-state incremental, O(touched buckets)).
    * Expectation mirrors the CDC crossover: legacy flat-ish below
    * ~25M rows (write parallelism hides the linear term), then linear;
    * bucketed flat throughout. Batch 0 excluded (stream start).
    * SCD2-specific twist: every update CLOSES an interval and OPENS a
    * new one, so touched buckets GROW each batch — the layout must
    * absorb history growth, not just image churn. */
  private def scd2StateCurve(spark: SparkSession): Unit =
    for (scale <- Seq(1, 4, 16); nBuckets <- Seq(0, math.min(256 * scale, 1024))) {
      withBatchDurations(spark) { (batchMs, quiesce) =>
        val stateRows = 4000000L * scale
        val nBatches = 6
        val rowsPerBatch = 1000
        val distinctKeys = 50
        def seed = spark.range(stateRows).select(
          col("id"),
          concat(lit("fn"), col("id")).as("firstName"),
          concat(lit("ln"), col("id")).as("lastName"),
          lit("1990-01-01").cast("date").as("dateOfBirth"),
          lit(1).as("status"),
          col("id").as("valid_from"),
          lit(null).cast("long").as("valid_to"),
          lit(1).as("is_current"))
        val root = java.nio.file.Files.createTempDirectory("graft_scdscale_state").toString
        val state = s"$root/history"
        if (nBuckets > 0)
          seed.withColumn("graft_bucket", streaming.Streams.bucketExpr("id", nBuckets))
            .repartition(col("graft_bucket"))
            .write.mode("overwrite").partitionBy("graft_bucket").parquet(state)
        else seed.write.mode("overwrite").parquet(state)
        val dir = java.nio.file.Files.createTempDirectory("graft_scdscale_in")
        val t0 = System.currentTimeMillis() - 2000L * (nBatches + 1)
        var lsnSeq = stateRows + 16L // past every seeded valid_from (the high-water screen)
        for (b <- 0 until nBatches) {
          val sb = new StringBuilder(rowsPerBatch * 140)
          for (i <- 0 until rowsPerBatch) {
            val id = i % distinctKeys
            val lsn = f"${lsnSeq >> 32}%X/${lsnSeq & 0xFFFFFFFFL}%08X"; lsnSeq += 16L
            sb.append(s"""{"lsn": "$lsn", "tag": "update", "table": "students", "new": {"id": $id, "first_name": "b${b}fn$id", "last_name": "ln$id", "date_of_birth": "1990-01-01", "status_id": 2}}""")
            sb.append('\n')
          }
          val f = dir.resolve(f"chunk_$b%04d.jsonl")
          java.nio.file.Files.write(f, sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          f.toFile.setLastModified(t0 + b * 2000L)
        }
        val ckpt = java.nio.file.Files.createTempDirectory("graft_scdscale_ckpt").toString
        val q = streaming.Streams.materializeScd2(
          streaming.Streams.envelopeStream(spark, dir.toString), ckpt, state,
          statePartitions = nBuckets)
        val runId = q.runId
        q.awaitTermination(); quiesce()
        val ms = batchMs(runId)
        val steady = ms.drop(1)
        val meanMs = if (steady.nonEmpty) steady.sum.toDouble / steady.size else Double.NaN
        println(s"""{"metric":"scd2_state_scale","state_rows":$stateRows,"buckets":$nBuckets,""" +
          s""""distinct_keys":$distinctKeys,"rows_per_batch":$rowsPerBatch,""" +
          s""""batch_ms":[${ms.mkString(",")}],"steady_mean_ms":${fx(meanMs, 0)}}""")
      }
    }

  private def cdcStateCurve(spark: SparkSession): Unit =
    withBatchDurations(spark) { (batchMs, quiesce) =>
      def seed(n: Long) = spark.range(n).select(
        (col("id") + 1000000L).as("id"),
        concat(lit("fn"), col("id")).as("firstName"),
        concat(lit("ln"), col("id")).as("lastName"),
        lit("1990-01-01").cast("date").as("dateOfBirth"),
        lit(1).as("status"))
      for (stateRows <- Seq(10000L, 100000L, 1000000L)) {
        // parquet-swap materializer over a pre-grown state
        val stateDir = java.nio.file.Files.createTempDirectory(s"graft_cdcscale_$stateRows")
        val state = s"$stateDir/students"
        seed(stateRows).write.mode("overwrite").parquet(state)
        val ckpt = java.nio.file.Files.createTempDirectory("graft_cdcscale_ckpt").toString
        val in = cdc.Fixture.materializeChunks(5)
        val q = streaming.Streams.materializeCdc(
          streaming.Streams.envelopeStream(spark, in), ckpt, state)
        val runId = q.runId
        q.awaitTermination(); quiesce()
        val swapMs = batchMs(runId)
        // JDBC materializer over the same-size seeded table. Create the
        // KEYED table first (ensureTable: id PRIMARY KEY), then append
        // the seed rows — seeding through the plain writer would create
        // an unkeyed table and every per-key DELETE would full-scan it,
        // turning the flat path O(state) by accident (measured: 8 s/
        // batch at 1M rows vs ~0.3 s keyed).
        val url = s"jdbc:derby:memory:graft_scale_$stateRows;create=true"
        val seedDf = seed(stateRows)
        sources.Jdbc.ensureTable(url, "students_live", seedDf.schema, "id")
        sources.Jdbc.write(seedDf, url, "students_live",
          org.apache.spark.sql.SaveMode.Append)
        val ckpt2 = java.nio.file.Files.createTempDirectory("graft_cdcscale_ckpt2").toString
        val in2 = cdc.Fixture.materializeChunks(5)
        val q2 = streaming.Streams.materializeCdcJdbc(
          streaming.Streams.envelopeStream(spark, in2), ckpt2, url, "students_live")
        val runId2 = q2.runId
        q2.awaitTermination(); quiesce()
        val jdbcMs = batchMs(runId2)
        println(s"""{"metric":"cdc_state_scale","state_rows":$stateRows,""" +
          s""""swap_batch_ms":[${swapMs.mkString(",")}],"jdbc_batch_ms":[${jdbcMs.mkString(",")}]}""")
      }
    }

  /** The OTHER axis of the JDBC materializer's curve: per-batch
    * wall-clock vs ROWS PER BATCH at FIXED state size (the state-growth
    * curve above holds the batch fixed and grows the state). Seeds a
    * keyed 100k-row table once, then drives 4 micro-batches of
    * synthetic envelope events at 200 / 2,000 / 20,000 rows per batch
    * (~90% updates against seeded keys, ~10% deletes; all strictly
    * LSN-increasing), recording `triggerExecution` per batch and
    * deriving rows/s. Batch 0 of each run is excluded as stream-start
    * warmup. This is the data behind the batch-size knob: the apply is
    * per-partition batched DML, so cost should be ~linear in batch
    * rows with a flat per-batch floor — i.e. rows/s RISES with batch
    * size until the DML stream saturates. */
  private def cdcThroughputCurve(spark: SparkSession): Unit =
    withBatchDurations(spark) { (batchMs, quiesce) =>
      val stateRows = 100000L
      val nBatches = 4
      for (rowsPerBatch <- Seq(200, 2000, 20000)) {
        val url = s"jdbc:derby:memory:graft_tput_$rowsPerBatch;create=true"
        val seedDf = spark.range(stateRows).select(
          (col("id") + 1000000L).as("id"),
          concat(lit("fn"), col("id")).as("firstName"),
          concat(lit("ln"), col("id")).as("lastName"),
          lit("1990-01-01").cast("date").as("dateOfBirth"),
          lit(1).as("status"))
        sources.Jdbc.ensureTable(url, "students_live", seedDf.schema, "id")
        sources.Jdbc.write(seedDf, url, "students_live",
          org.apache.spark.sql.SaveMode.Append)
        // synthetic envelope chunks: one file per micro-batch, mod-time
        // ordered; keys cycle through the seeded range so every event
        // hits an existing (indexed) row — the update-heavy steady state
        val dir = java.nio.file.Files.createTempDirectory(s"graft_tput_in_$rowsPerBatch")
        val t0 = System.currentTimeMillis() - 2000L * (nBatches + 1)
        var lsnSeq = 16L
        for (b <- 0 until nBatches) {
          val sb = new StringBuilder(rowsPerBatch * 160)
          for (i <- 0 until rowsPerBatch) {
            val id = 1000000L + ((b.toLong * rowsPerBatch + i) % stateRows)
            val lsn = f"0/$lsnSeq%08X"
            lsnSeq += 16L
            if (i % 10 == 9)
              sb.append(s"""{"lsn": "$lsn", "tag": "delete", "table": "students", "old": {"id": $id}}""")
            else
              sb.append(s"""{"lsn": "$lsn", "tag": "update", "table": "students", "new": {"id": $id, "first_name": "fn$id", "last_name": "ln$id", "date_of_birth": "1990-01-01", "status_id": 1}}""")
            sb.append('\n')
          }
          val f = dir.resolve(f"chunk_$b%04d.jsonl")
          java.nio.file.Files.write(f, sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          f.toFile.setLastModified(t0 + b * 2000L)
        }
        val ckpt = java.nio.file.Files.createTempDirectory("graft_tput_ckpt").toString
        val q = streaming.Streams.materializeCdcJdbc(
          streaming.Streams.envelopeStream(spark, dir.toString), ckpt, url, "students_live")
        val runId = q.runId
        q.awaitTermination(); quiesce()
        val ms = batchMs(runId)
        val steady = ms.drop(1) // batch 0 pays stream-start warmup
        val meanMs = if (steady.nonEmpty) steady.sum.toDouble / steady.size else Double.NaN
        val rowsPerSec = rowsPerBatch / (meanMs / 1000.0)
        println(s"""{"metric":"cdc_jdbc_throughput","state_rows":$stateRows,""" +
          s""""rows_per_batch":$rowsPerBatch,"batch_ms":[${ms.mkString(",")}],""" +
          s""""steady_mean_ms":${fx(meanMs, 0)},"rows_per_sec":${fx(rowsPerSec, 0)}}""")
      }
    }

  /** Demux cost of the multi-table materializer at the same TOTAL rows
    * per batch as the single-table 20k point: two relations
    * (students + status), 10k events each per batch against fixed
    * keyed 100k-row tables, sequential vs maxConcurrentRelations=2.
    * The delta vs the single-table row quantifies what the demux
    * machinery (batch persist, stray-table check, N filter+project
    * passes, N applies) costs; the seq-vs-par delta is what the
    * concurrency knob buys when the per-relation floors dominate. */
  private def cdcMultiThroughput(spark: SparkSession): Unit =
    withBatchDurations(spark) { (batchMs, quiesce) =>
      val relations = Seq(cdc.Envelope.studentsRelation, cdc.Envelope.statusRelation)
      val union = cdc.Envelope.unionSchema(relations)
      val stateRows = 100000L
      val perRelation = 10000 // × 2 relations = the single-table 20k point
      val nBatches = 4
      for ((mode, conc) <- Seq(("seq", 1), ("par", 2))) {
        val url = s"jdbc:derby:memory:graft_multi_$mode;create=true"
        val students = spark.range(stateRows).select(
          (col("id") + 1000000L).as("id"),
          concat(lit("fn"), col("id")).as("firstName"),
          concat(lit("ln"), col("id")).as("lastName"),
          lit("1990-01-01").cast("date").as("dateOfBirth"),
          lit(1).as("status"))
        sources.Jdbc.ensureTable(url, "students", students.schema, "id")
        sources.Jdbc.write(students, url, "students", org.apache.spark.sql.SaveMode.Append)
        val status = spark.range(stateRows).select(
          (col("id") + 1000000L).as("id"),
          concat(lit("v"), col("id")).as("value"))
        sources.Jdbc.ensureTable(url, "status", status.schema, "id")
        sources.Jdbc.write(status, url, "status", org.apache.spark.sql.SaveMode.Append)
        val dir = java.nio.file.Files.createTempDirectory(s"graft_multi_in_$mode")
        val t0 = System.currentTimeMillis() - 2000L * (nBatches + 1)
        var lsnSeq = 16L
        for (b <- 0 until nBatches) {
          val sb = new StringBuilder(perRelation * 2 * 170)
          for (i <- 0 until perRelation) {
            val id = 1000000L + ((b.toLong * perRelation + i) % stateRows)
            val l1 = f"0/$lsnSeq%08X"; lsnSeq += 16L
            val l2 = f"0/$lsnSeq%08X"; lsnSeq += 16L
            sb.append(s"""{"lsn": "$l1", "tag": "update", "table": "students", "new": {"id": $id, "first_name": "fn$id", "last_name": "ln$id", "date_of_birth": "1990-01-01", "status_id": 1}}""")
            sb.append('\n')
            sb.append(s"""{"lsn": "$l2", "tag": "update", "table": "status", "new": {"id": $id, "value": "v$id"}}""")
            sb.append('\n')
          }
          val f = dir.resolve(f"chunk_$b%04d.jsonl")
          java.nio.file.Files.write(f, sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          f.toFile.setLastModified(t0 + b * 2000L)
        }
        val ckpt = java.nio.file.Files.createTempDirectory(s"graft_multi_ckpt_$mode").toString
        val q = streaming.Streams.materializeCdcJdbcTables(
          streaming.Streams.envelopeStream(spark, dir.toString, schema = union),
          ckpt, url, relations, maxConcurrentRelations = conc)
        val runId = q.runId
        q.awaitTermination(); quiesce()
        val ms = batchMs(runId)
        val steady = ms.drop(1)
        val meanMs = if (steady.nonEmpty) steady.sum.toDouble / steady.size else Double.NaN
        val totalRows = perRelation * 2
        println(s"""{"metric":"cdc_multi_throughput","mode":"$mode","relations":2,""" +
          s""""rows_per_batch":$totalRows,"batch_ms":[${ms.mkString(",")}],""" +
          s""""steady_mean_ms":${fx(meanMs, 0)},"rows_per_sec":${fx(totalRows / (meanMs / 1000.0), 0)}}""")
      }
    }

  /** Relation-COUNT axis of the demux (the 2-relation cdc_multi point
    * left the catalog-size question open): N ∈ {8, 16} synthetic
    * relations at FIXED total rows per batch (split evenly, so the
    * per-relation apply floor — not row volume — is what N scales),
    * swept over maxConcurrentRelations ∈ {1, 2, 4, 8}. This is the
    * relation count a real `FOR ALL TABLES` publication ships, and
    * the data behind the concurrency knob at that size: the applies
    * are independent (disjoint tables, idempotent), so the knob
    * should fold the N serialized per-relation floors toward
    * max(floor) while the shared census/persist cost stays fixed. */
  private def cdcRelationCountCurve(spark: SparkSession): Unit =
    withBatchDurations(spark) { (batchMs, quiesce) =>
      val totalPerBatch = 16000
      val stateRows = 20000L
      val nBatches = 4
      for (nRel <- Seq(8, 16); conc <- Seq(1, 2, 4, 8)) {
        val relations = (0 until nRel).map { i =>
          cdc.Envelope.Relation(f"t$i%02d",
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("id",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("val",
                org.apache.spark.sql.types.StringType))))
        }
        val union = cdc.Envelope.unionSchema(relations)
        val url = s"jdbc:derby:memory:graft_relcount_${nRel}_$conc;create=true"
        relations.foreach { rel =>
          val seedDf = spark.range(stateRows).select(
            col("id"), concat(lit("v"), col("id")).as("val"))
          sources.Jdbc.ensureTable(url, rel.name, seedDf.schema, "id")
          sources.Jdbc.write(seedDf, url, rel.name,
            org.apache.spark.sql.SaveMode.Append)
        }
        val perRelation = totalPerBatch / nRel
        val dir = java.nio.file.Files.createTempDirectory(s"graft_relcount_${nRel}_$conc")
        val t0 = System.currentTimeMillis() - 2000L * (nBatches + 1)
        var lsnSeq = 16L
        for (b <- 0 until nBatches) {
          val sb = new StringBuilder(totalPerBatch * 90)
          for (i <- 0 until perRelation; rel <- relations) {
            val id = (b.toLong * perRelation + i) % stateRows
            val lsn = f"0/$lsnSeq%08X"; lsnSeq += 16L
            sb.append(s"""{"lsn": "$lsn", "tag": "update", "table": "${rel.name}", "new": {"id": $id, "val": "b${b}v$id"}}""")
            sb.append('\n')
          }
          val f = dir.resolve(f"chunk_$b%04d.jsonl")
          java.nio.file.Files.write(f, sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          f.toFile.setLastModified(t0 + b * 2000L)
        }
        val ckpt = java.nio.file.Files.createTempDirectory(s"graft_relc_ckpt_${nRel}_$conc").toString
        val q = streaming.Streams.materializeCdcJdbcTables(
          streaming.Streams.envelopeStream(spark, dir.toString, schema = union),
          ckpt, url, relations, maxConcurrentRelations = conc)
        val runId = q.runId
        q.awaitTermination(); quiesce()
        val ms = batchMs(runId)
        val steady = ms.drop(1)
        val meanMs = if (steady.nonEmpty) steady.sum.toDouble / steady.size else Double.NaN
        println(s"""{"metric":"cdc_relcount","relations":$nRel,"concurrency":$conc,""" +
          s""""rows_per_batch":$totalPerBatch,"batch_ms":[${ms.mkString(",")}],""" +
          s""""steady_mean_ms":${fx(meanMs, 0)},""" +
          s""""rows_per_sec":${fx(totalPerBatch / (meanMs / 1000.0), 0)}}""")
      }
    }

  /** Steady-state soak of the CAS-mode JDBC materializer: ~50
    * micro-batches (1k rows each, ~90% updates / 10% deletes) against
    * a seeded keyed 50k-row CAS table with tombstone GC on
    * (retention 5). The flat-latency machinery under test: the
    * canonical-LSN probe and NULL-stamp backfill are FIRST-batch-only,
    * the per-batch GC DELETE is horizon-bounded, and the apply touches
    * only batch keys — so batch wall-clock must stay FLAT (no
    * monotonic growth across 50 batches) and the tombstone count must
    * stay bounded by the GC horizon, not accumulate one row per delete
    * ever issued. Prints first/last-quartile means (the drift signal)
    * and end-state tombstone counts vs the unbounded total. */
  private def cdcSoak(spark: SparkSession): Unit =
    withBatchDurations(spark) { (batchMs, quiesce) =>
      val stateRows = 50000L
      val rowsPerBatch = 1000
      val nBatches = 50
      val retention = 5L
      val url = "jdbc:derby:memory:graft_soak;create=true"
      // CAS-shaped seed: payload + canonical lsn + op + arrival stamp
      // (a CAS table's rows must carry their version; NULL versions
      // would lose every CAS by three-valued logic)
      val seedDf = spark.range(stateRows).select(
        col("id"),
        concat(lit("fn"), col("id")).as("firstName"),
        lit("00000000/00000010").as("lsn"),
        lit("U").as("op"),
        lit(0L).as("__graft_arrival_batch"))
      sources.Jdbc.ensureTable(url, "soak", seedDf.schema, "id")
      sources.Jdbc.write(seedDf, url, "soak", org.apache.spark.sql.SaveMode.Append)
      val dir = java.nio.file.Files.createTempDirectory("graft_soak_in")
      val t0 = System.currentTimeMillis() - 2000L * (nBatches + 1)
      var lsnSeq = 32L
      var deletesIssued = 0L
      for (b <- 0 until nBatches) {
        val sb = new StringBuilder(rowsPerBatch * 160)
        for (i <- 0 until rowsPerBatch) {
          val id = (b.toLong * rowsPerBatch + i) % stateRows
          val lsn = f"0/$lsnSeq%08X"; lsnSeq += 16L
          if (i % 10 == 9) {
            deletesIssued += 1
            sb.append(s"""{"lsn": "$lsn", "tag": "delete", "table": "students", "old": {"id": $id}}""")
          } else
            sb.append(s"""{"lsn": "$lsn", "tag": "update", "table": "students", "new": {"id": $id, "first_name": "b${b}fn$id", "last_name": "ln$id", "date_of_birth": "1990-01-01", "status_id": 1}}""")
          sb.append('\n')
        }
        val f = dir.resolve(f"chunk_$b%04d.jsonl")
        java.nio.file.Files.write(f, sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        f.toFile.setLastModified(t0 + b * 2000L)
      }
      val ckpt = java.nio.file.Files.createTempDirectory("graft_soak_ckpt").toString
      val q = streaming.Streams.materializeCdcJdbc(
        streaming.Streams.envelopeStream(spark, dir.toString), ckpt, url, "soak",
        orderedTransport = false, casTombstoneRetention = retention)
      val runId = q.runId
      q.awaitTermination(); quiesce()
      val ms = batchMs(runId)
      val steady = ms.drop(1)
      val quarter = steady.size / 4
      val firstQ = steady.take(quarter)
      val lastQ = steady.takeRight(quarter)
      def mean(xs: Seq[Long]) = if (xs.nonEmpty) xs.sum.toDouble / xs.size else Double.NaN
      val tombstones = sources.Jdbc.snapshot(spark, url, "soak")
        .filter(col("op") === "D").count()
      println(s"""{"metric":"cdc_soak","batches":${ms.size},"rows_per_batch":$rowsPerBatch,""" +
        s""""retention":$retention,"first_quartile_mean_ms":${fx(mean(firstQ), 0)},""" +
        s""""last_quartile_mean_ms":${fx(mean(lastQ), 0)},""" +
        s""""end_tombstones":$tombstones,"deletes_issued":$deletesIssued,""" +
        s""""batch_ms":[${ms.mkString(",")}]}""")
    }

  /** THE streaming-materializer regression bar (round-11 verdict item
    * 2): one pinned protocol, one JSON line, recorded in BASELINE.md
    * the way the per-query bench bars are — so a streaming-path
    * regression (an accidental state scan, a lost quiet-skip, a new
    * per-batch driver round-trip) is caught round-over-round, not
    * just when someone re-reads the ad-hoc curves.
    *
    * Protocol (fixed — changing ANY knob means re-cutting the bar):
    * `materializeCdcTables` (PARQUET sink — the sink the oracle gate
    * itself exercises), 8 relations, ordered transport,
    * maxConcurrentRelations = 4 (the measured relcount plateau),
    * states pre-seeded at 20k rows/relation, 5 micro-batches of 16k
    * update rows split evenly (2k/relation, all hitting seeded keys),
    * batch 0 excluded as stream-start warmup; reported number =
    * steady-state mean ms/batch and derived rows/s. Note the parquet
    * swap rewrites each touched state whole per batch — the seeded
    * state size is part of the protocol precisely because the cost is
    * O(state) by design at this sink. */
  private def cdcBar(spark: SparkSession): Unit =
    withBatchDurations(spark) { (batchMs, quiesce) =>
      val nRel = 8
      val stateRows = 20000L
      val totalPerBatch = 16000
      val nBatches = 5
      val relations = (0 until nRel).map { i =>
        cdc.Envelope.Relation(f"t$i%02d",
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("val",
              org.apache.spark.sql.types.StringType))))
      }
      val union = cdc.Envelope.unionSchema(relations)
      val root = java.nio.file.Files.createTempDirectory("graft_cdcbar_state").toString
      relations.foreach { rel =>
        spark.range(stateRows).select(col("id"), concat(lit("v"), col("id")).as("val"))
          .write.mode("overwrite").parquet(s"$root/${rel.name}")
      }
      val perRelation = totalPerBatch / nRel
      val dir = java.nio.file.Files.createTempDirectory("graft_cdcbar_in")
      val t0 = System.currentTimeMillis() - 2000L * (nBatches + 1)
      var lsnSeq = 16L
      for (b <- 0 until nBatches) {
        val sb = new StringBuilder(totalPerBatch * 90)
        for (i <- 0 until perRelation; rel <- relations) {
          val id = (b.toLong * perRelation + i) % stateRows
          val lsn = f"0/$lsnSeq%08X"; lsnSeq += 16L
          sb.append(s"""{"lsn": "$lsn", "tag": "update", "table": "${rel.name}", "new": {"id": $id, "val": "b${b}v$id"}}""")
          sb.append('\n')
        }
        val f = dir.resolve(f"chunk_$b%04d.jsonl")
        java.nio.file.Files.write(f, sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        f.toFile.setLastModified(t0 + b * 2000L)
      }
      val ckpt = java.nio.file.Files.createTempDirectory("graft_cdcbar_ckpt").toString
      val q = streaming.Streams.materializeCdcTables(
        streaming.Streams.envelopeStream(spark, dir.toString, schema = union),
        ckpt, root, relations, maxConcurrentRelations = 4)
      val runId = q.runId
      q.awaitTermination(); quiesce()
      val ms = batchMs(runId)
      val steady = ms.drop(1)
      val meanMs = if (steady.nonEmpty) steady.sum.toDouble / steady.size else Double.NaN
      println(s"""{"metric":"cdc_bar","relations":$nRel,"state_rows":$stateRows,""" +
        s""""rows_per_batch":$totalPerBatch,"batches":${ms.size},""" +
        s""""batch_ms":[${ms.mkString(",")}],"steady_mean_ms":${fx(meanMs, 0)},""" +
        s""""rows_per_sec":${fx(totalPerBatch / (meanMs / 1000.0), 0)}}""")
    }

  /** Partitioned-state scale curve (round-15 verdict item 7): ms/batch
    * as the seeded state DOUBLES, legacy whole-rewrite layout vs the
    * bucket-partitioned layout (`statePartitions`).
    *
    * Protocol (fixed): ONE relation, ordered transport, 6 micro-batches
    * of 1000 update rows over 50 DISTINCT keys (reduce → 50 change
    * rows/batch, the "small hot key set against big state" shape
    * partitioning exists for); state sizes 4M/8M/16M rows;
    * partitioned runs hold BUCKET SIZE constant (n = 256×scale ⇒
    * ~16k rows/bucket) — that is the deployment rule the operator doc
    * states (size buckets, not bucket count), and what makes the
    * partitioned per-batch cost ≤ 50 touched buckets × constant bucket
    * size = FLAT while the legacy swap cost doubles with the state.
    * Batch 0 is excluded: it absorbs stream start AND (partitioned
    * runs over the unpartitioned seed) the one-time layout migration. */
  private def cdcPartitioned(spark: SparkSession): Unit =
    // n is capped at 1024: past that, partition-discovery listing cost
    // (driver-side, per batch) outgrows what bigger buckets save here.
    // The 16× point (64M rows) anchors the crossover where the legacy
    // swap's O(state) write overtakes the partitioned layout's fixed
    // per-batch costs on this box.
    for (scale <- Seq(1, 2, 4, 16); nBuckets <- Seq(0, math.min(256 * scale, 1024))) {
      withBatchDurations(spark) { (batchMs, quiesce) =>
        val stateRows = 4000000L * scale
        val nBatches = 6
        val rowsPerBatch = 1000
        val distinctKeys = 50
        val rel = cdc.Envelope.Relation("t00",
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("val",
              org.apache.spark.sql.types.StringType))))
        val union = cdc.Envelope.unionSchema(Seq(rel))
        val root = java.nio.file.Files.createTempDirectory("graft_cdcpart_state").toString
        spark.range(stateRows).select(col("id"), concat(lit("v"), col("id")).as("val"))
          .write.mode("overwrite").parquet(s"$root/${rel.name}")
        val dir = java.nio.file.Files.createTempDirectory("graft_cdcpart_in")
        val t0 = System.currentTimeMillis() - 2000L * (nBatches + 1)
        var lsnSeq = 16L
        for (b <- 0 until nBatches) {
          val sb = new StringBuilder(rowsPerBatch * 90)
          for (i <- 0 until rowsPerBatch) {
            val id = i % distinctKeys
            val lsn = f"0/$lsnSeq%08X"; lsnSeq += 16L
            sb.append(s"""{"lsn": "$lsn", "tag": "update", "table": "t00", "new": {"id": $id, "val": "b${b}v$id"}}""")
            sb.append('\n')
          }
          val f = dir.resolve(f"chunk_$b%04d.jsonl")
          java.nio.file.Files.write(f, sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          f.toFile.setLastModified(t0 + b * 2000L)
        }
        val ckpt = java.nio.file.Files.createTempDirectory("graft_cdcpart_ckpt").toString
        val q = streaming.Streams.materializeCdcTables(
          streaming.Streams.envelopeStream(spark, dir.toString, schema = union),
          ckpt, root, Seq(rel), statePartitions = nBuckets)
        val runId = q.runId
        q.awaitTermination(); quiesce()
        val ms = batchMs(runId)
        val steady = ms.drop(1)
        val meanMs = if (steady.nonEmpty) steady.sum.toDouble / steady.size else Double.NaN
        println(s"""{"metric":"cdc_partitioned","state_rows":$stateRows,"buckets":$nBuckets,""" +
          s""""distinct_keys":$distinctKeys,"rows_per_batch":$rowsPerBatch,""" +
          s""""batch_ms":[${ms.mkString(",")}],"steady_mean_ms":${fx(meanMs, 0)}}""")
      }
    }

  /** ANN scale curve (p10 LSH / p12 IVF): 1× and 5× corpus, recording
    * candidate-pair volume, wall-clock, and recall@k vs the exact
    * brute-force baseline — pins "candidates ≈ Σ bucket², not n²" as
    * data. The 5× corpus replicates every vector with fresh ids, so
    * each bucket grows 5× and the candidate volume should grow ~25×
    * while staying orders of magnitude below n². */
  private def annCurve(spark: SparkSession, sfDir: String): Unit = {
    val emb = sources.Tables.embeddings(spark, sfDir)
    val maxId = emb.agg(max(col("vec_id"))).head.getLong(0) + 1L
    def scaled(factor: Int): String = {
      if (factor == 1) return sfDir
      val dir = java.nio.file.Files.createTempDirectory(s"graft_annscale_${factor}x")
      val copies = (0 until factor).map { i =>
        emb.withColumn("vec_id", col("vec_id") + lit(i * maxId))
      }.reduce(_ unionByName _)
      copies.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      dir.toString
    }
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def topk(df: org.apache.spark.sql.DataFrame) =
      df.select(col("qid"), col("rn"), col("cid")).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
    for (factor <- Seq(1, 5)) {
      val dir = scaled(factor)
      val n = sources.Tables.embeddings(spark, dir).count()
      // exact baseline: ground truth for recall (and the n² yardstick)
      val (exact, exactSec) = timed(topk(queries.Advanced.q18.fn(spark, dir)))
      for ((name, q, candCount) <- Seq(
          ("lsh", (s: SparkSession, d: String) => queries.Pipeline.p10.fn(s, d),
            () => queries.Pipeline.annLshCandidates(spark, dir)),
          ("ivf", (s: SparkSession, d: String) => queries.Pipeline.p12.fn(s, d),
            () => queries.Pipeline.annIvfCandidates(spark, dir)))) {
        val (got, sec) = timed(topk(q(spark, dir)))
        val cands = candCount()
        val recall = if (exact.isEmpty) 1.0 else got.intersect(exact).size.toDouble / exact.size
        println(s"""{"metric":"ann_scale","variant":"$name","factor":$factor,"vectors":$n,""" +
          s""""candidates":$cands,"n_sq":${n * n},"recall_vs_exact":${fx(recall, 3)},""" +
          s""""sec":${fx(sec, 2)},"exact_sec":${fx(exactSec, 2)}}""")
      }
      spark.catalog.clearCache()
    }
  }

  /** K-scaling curve for the k-means assign step — the measurement
    * behind the BestCentroid kernel's "O(1) plan at K in the
    * thousands" claim. Corpus = embeddings ×5 (id-shifted copies, the
    * annCurve trick). K=8 rides the literal-expanded argmax, the rest
    * cross [[graft.ops.KMeans.kernelCellThreshold]] into the kernel;
    * at K=1024×dim=64 the expanded plan would be ~65k expression
    * nodes and un-codegen-able, so the kernel is the only path.
    * Scan→argmax→K-key count mirrors one training iteration's shape
    * without the UDAF so the number isolates the scoring cost. */
  private def kmeansKernelCurve(spark: SparkSession, sfDir: String): Unit = {
    graft.expressions.VectorExpressions.register(spark)
    val emb = sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val maxId = emb.agg(max(col("vec_id"))).head.getLong(0) + 1L
    val corpus = (0 until 5).map { i =>
      emb.withColumn("vec_id", col("vec_id") + lit(i * maxId))
    }.reduce(_ unionByName _).persist()
    val n = corpus.count() // materialize outside the timed region
    val dim = corpus.head.getSeq[Float](1).length
    for (k <- Seq(8, 128, 512, 1024)) {
      val cents = Array.tabulate(k, dim)((j, i) => math.sin(j * 31 + i) * 0.5 + 0.5)
      val model = ops.KMeans.Model(
        cents, Array.fill(k)(0L), Array.fill(k)(0L), Array(0.0))
      val t0 = System.nanoTime()
      val nonEmpty = ops.KMeans.assign(corpus, "embedding", model)
        .groupBy(col("cluster")).count().count()
      val sec = (System.nanoTime() - t0) / 1e9
      val path = if (k.toLong * dim > ops.KMeans.kernelCellThreshold) "kernel"
                 else "expanded"
      println(s"""{"metric":"kmeans_assign","k":$k,"dim":$dim,"vectors":$n,""" +
        s""""path":"$path","nonempty_clusters":$nonEmpty,"sec":${fx(sec, 2)},""" +
        s""""rows_per_sec":${(n / sec).toInt},"cells_per_sec":${(n * k * dim / sec).toLong}}""")
    }
    corpus.unpersist()
  }

  /** K'-scaling curve for the PQ encode step — the measurement behind
    * the `PqEncode` kernel (p24). Corpus = embeddings ×5 (the annCurve
    * id-shift trick). The kernel is timed at K' = 16/64/256 (256 is
    * production PQ); the literal-expanded strategy is timed at 16 and
    * 64 only — at K'=256 its ~16k-node projection is exactly the
    * plan-size blowout the kernel exists to avoid, and timing a
    * pathological compile adds nothing. Scan→encode→count-by-first-code
    * mirrors p24's encode stage without the rescore so the number
    * isolates encoding cost. */
  private def pqEncodeCurve(spark: SparkSession, sfDir: String): Unit = {
    graft.expressions.VectorExpressions.register(spark)
    val emb = sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val maxId = emb.agg(max(col("vec_id"))).head.getLong(0) + 1L
    val corpus = (0 until 5).map { i =>
      emb.withColumn("vec_id", col("vec_id") + lit(i * maxId))
    }.reduce(_ unionByName _).persist()
    val n = corpus.count()
    val dim = corpus.head.getSeq[Float](1).length
    val m = 16
    val sub = dim / m
    def timeIt(codes: org.apache.spark.sql.Column): Double = {
      val t0 = System.nanoTime()
      corpus.select(codes.as("codes")).groupBy(col("codes").getItem(0)).count().count()
      (System.nanoTime() - t0) / 1e9
    }
    // untimed warmup (scan + codegen machinery) so the K=16 row isn't
    // charged the session's first-touch costs — same rationale as
    // Bench's warmup pass
    locally {
      val cb0 = Array.tabulate(m, 4, sub)((mm, j, t) => math.sin(mm * 131 + j * 31 + t) * 0.5)
      val fn0 = graft.expressions.VectorExpressions.registerPqEncode(spark, cb0)
      try timeIt(expr(s"$fn0(embedding)"))
      finally graft.expressions.VectorExpressions.dropTempFunction(spark, fn0)
    }
    for (k <- Seq(16, 64, 256)) {
      val cb = Array.tabulate(m, k, sub)((mm, j, t) => math.sin(mm * 131 + j * 31 + t) * 0.5)
      val fn = graft.expressions.VectorExpressions.registerPqEncode(spark, cb)
      val kernelSec = try timeIt(expr(s"$fn(embedding)"))
        finally graft.expressions.VectorExpressions.dropTempFunction(spark, fn)
      val expandedSec = if (k <= 64) Some(timeIt(queries.Pipeline.pqCodesExpanded(cb))) else None
      println(s"""{"metric":"pq_encode","m":$m,"k":$k,"sub":$sub,"vectors":$n,""" +
        s""""kernel_sec":${fx(kernelSec, 2)},""" +
        s""""expanded_sec":${expandedSec.map(fx(_, 2)).getOrElse("null")},""" +
        s""""kernel_cells_per_sec":${(n.toDouble * k * dim / kernelSec).toLong}}""")
    }
    corpus.unpersist()
  }

  /** Skew witness for sequence packing: p21's window partitions by
    * `lang`, so a 90%-dominant language is one sort task no matter how
    * many executors exist; p21b's (lang, floor(doc_id/span)) key bounds
    * every partition at `span` rows. Synthetic `(doc_id, lang, n_tok)`
    * counts isolate the window pass (the tokenize stage is map-only
    * and skew-free), 90% of rows in `en`, volume stepped 2M → 8M → 20M:
    * the flat manifest's wall-clock should grow superlinearly with the
    * dominant partition while the sharded one stays near-flat per row.
    * Both manifests are forced end-to-end (count of pack rows). */
  private def packSkewCurve(spark: SparkSession): Unit = {
    for (n <- Seq(2000000L, 8000000L, 20000000L)) {
      val t = spark.range(n).select(
        col("id").as("doc_id"),
        when(pmod(col("id"), lit(10)) === 0,
          concat(lit("l"), pmod(col("id"), lit(5)).cast("string")))
          .otherwise(lit("en")).as("lang"),
        (pmod(col("id") * lit(2654435761L), lit(97L)) + lit(8L)).as("n_tok"))
        .persist()
      t.count()
      def timed(f: => Long): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val flatSec = timed(queries.Pipeline.packFromCounts(t, 2048).count())
      val shardSec = timed(queries.Pipeline.packFromCountsSharded(t, 2048, 65536L).count())
      println(s"""{"metric":"pack_skew","rows":$n,"en_share":0.9,""" +
        s""""flat_sec":${fx(flatSec, 2)},"sharded_sec":${fx(shardSec, 2)},""" +
        s""""flat_rows_per_sec":${(n / flatSec).toLong},"sharded_rows_per_sec":${(n / shardSec).toLong}}""")
      t.unpersist()
    }
  }

  /** K-scaling curve for SemDeDup's pair scan (p28) — the measurement
    * behind "K bounds the quadratic". Corpus = embeddings ×5 (the
    * annCurve id-shift trick). For each K: one-iteration k-means fit
    * (the curve is about the PAIR count, not centroid quality), a
    * kernel assign, then the within-cluster candidate-pair join is
    * counted and timed. Expected shape: candidate pairs ≈ N²/(2K) on a
    * near-uniform corpus — doubling K halves the pair scan — while the
    * assign cost grows only linearly in K (kmeans_assign curve). That
    * pair of curves IS the SemDeDup dial: pick K so N/K pairs fit the
    * executor budget, pay linear assign for quadratic relief. */
  private def semdedupCurve(spark: SparkSession, sfDir: String): Unit = {
    graft.expressions.VectorExpressions.register(spark)
    val emb = sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val maxId = emb.agg(max(col("vec_id"))).head.getLong(0) + 1L
    val corpus = (0 until 5).map { i =>
      emb.withColumn("vec_id", col("vec_id") + lit(i * maxId))
    }.reduce(_ unionByName _).persist()
    val n = corpus.count()
    for (k <- Seq(4, 16, 64, 256)) {
      val model = ops.KMeans.fit(corpus, "vec_id", "embedding", k, 1,
        forceKernel = true)
      val asg = ops.KMeans.assign(corpus, "embedding", model, forceKernel = true)
        .select(col("vec_id"), col("cluster")).persist()
      asg.count() // materialize outside the timed region
      val t0 = System.nanoTime()
      val a = asg.select(col("cluster"), col("vec_id").as("va"))
      val b = asg.select(col("cluster"), col("vec_id").as("vb"))
      val pairs = a.join(b, "cluster").filter(col("va") < col("vb")).count()
      val sec = (System.nanoTime() - t0) / 1e9
      val allPairs = n * (n - 1) / 2
      println(s"""{"metric":"semdedup_pairs","k":$k,"vectors":$n,""" +
        s""""candidate_pairs":$pairs,"all_pairs":$allPairs,""" +
        s""""fraction":${fx(pairs.toDouble / allPairs, 4)},"sec":${fx(sec, 2)}}""")
      asg.unpersist()
    }
    corpus.unpersist()
  }

  /** Batch-vs-index probe cost for incremental dedup (p30) — the
    * measurement behind "incremental cost is O(batch), not
    * O(corpus²)". Corpus = documents ×5 (id-shifted), its band table
    * computed ONCE and persisted — the p30 production INDEX. Each
    * ingest batch (a slice of docs under fresh ids) is signed fresh
    * and band-joined against the index; the comparison bar is the full
    * self-dedup over corpus+batch, which is what a pipeline without a
    * persistent index pays per ingest. Expected shape: probe cost
    * roughly flat in corpus size and ~linear in batch size, full
    * re-dedup pays the whole corpus signature pipeline every time. */
  private def incrementalCurve(spark: SparkSession, sfDir: String): Unit = {
    import graft.functions.TextFns
    val docs = sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val maxId = docs.agg(max(col("doc_id"))).head.getLong(0) + 1L
    def bandsOf(df: DataFrame): DataFrame = {
      // p30's signing shape: md5 base hashes computed ONCE behind a
      // cache boundary (the 8 per-seed projections would otherwise
      // each inline the md5 transform — 16× the hashing across two
      // bands, measured 15× slower here), both bands from ONE
      // generator, everything map-only. Caches are dropped by the
      // per-iteration clearCache below.
      val hsF = df
        .withColumn("toks", expr(TextFns.tokensExpr("text")))
        .withColumn("sh", expr(TextFns.shinglesExpr("toks")))
        .withColumn("hs", expr(TextFns.md5IntsExpr("sh")))
        .select(col("doc_id"), col("hs"))
        .persist()
      val sig = hsF.select(Seq(col("doc_id")) ++
        (0 until 8).map(k => expr(TextFns.minhashExpr("hs", k)).as(s"mh$k")): _*)
      sig.select(col("doc_id"), explode(array(
          struct(lit(0).as("band_id"),
            concat(col("mh0"), lit("|"), col("mh1"), lit("|"), col("mh2"), lit("|"), col("mh3")).as("band_val")),
          struct(lit(1).as("band_id"),
            concat(col("mh4"), lit("|"), col("mh5"), lit("|"), col("mh6"), lit("|"), col("mh7")).as("band_val")))).as("b"))
        .select(col("doc_id"), col("b.band_id").as("band_id"), col("b.band_val").as("band_val"))
        .filter(col("band_val").isNotNull)
    }
    // filter, not limit: GlobalLimit coalesces to ONE task and would
    // serialize the batch's whole signature pipeline
    val batch = docs.filter(col("doc_id") < 1000L)
      .withColumn("doc_id", col("doc_id") + lit(1000L * maxId))
    // counted off-clock: at sf0.001 the corpus has fewer than 1000 docs,
    // so the filter constant would overstate the batch in the metric
    val batchRows = batch.count()
    for (factor <- Seq(5, 25)) {
      val corpus = (0 until factor).map { i =>
        docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * maxId))
      }.reduce(_ unionByName _)
      val index = bandsOf(corpus).persist() // the persistent corpus index
      val nCorpus = index.select(col("doc_id")).distinct().count() // build off-clock
      val t0 = System.nanoTime()
      val probeHits = bandsOf(batch).as("b")
        .join(index.as("i"), Seq("band_id", "band_val"))
        .select(col("b.doc_id"), col("i.doc_id")).distinct().count()
      val probeSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      // signatures computed once and cached — the fairest full-re-dedup
      // a pipeline without a persistent index could run
      val all = bandsOf(corpus.unionByName(batch)).persist()
      val a = all.select(col("doc_id").as("da"), col("band_id"), col("band_val"))
      val b = all.select(col("doc_id").as("db"), col("band_id").as("bi2"), col("band_val").as("bv2"))
      val fullPairs = a.join(b,
          col("band_id") === col("bi2") && col("band_val") === col("bv2") &&
            col("da") < col("db"))
        .select(col("da"), col("db")).distinct().count()
      val fullSec = (System.nanoTime() - t1) / 1e9
      all.unpersist()
      index.unpersist()
      spark.catalog.clearCache() // the hs caches bandsOf pinned per call
      println(s"""{"metric":"incremental_dedup","corpus_docs":$nCorpus,""" +
        s""""batch_docs":$batchRows,"probe_hits":$probeHits,"probe_sec":${fx(probeSec, 2)},""" +
        s""""full_pairs":$fullPairs,"full_sec":${fx(fullSec, 2)},""" +
        s""""speedup":${fx(fullSec / probeSec, 1)}}""")
    }
  }

  /** p48 scale witness: attribute-filtered ANN cost vs allow-list
    * selectivity. The pre-filter semi-joins the BROADCAST allow-list
    * into the IVF membership table BEFORE the PQ-ADC scan, so the
    * candidate volume — and with it the ADC work — must FALL with
    * selectivity while the trained stack around it stays fixed. The
    * curve runs the full p36/p48 stack at four allow fractions (all
    * langs → one lang) and reports the allow size, the ADC candidate
    * count (re-derived with the same trainer), and wall-clock. At
    * fixture scale the trainer's fixed cost dominates wall-clock; the
    * load-bearing column is `candidates`, which is what scales to
    * 100 TB (the corpus-side scan is proportional to it). */
  private def annFilteredCurve(spark: SparkSession, sfDir: String): Unit = {
    val docs = sources.Tables.documents(spark, sfDir)
    val langSets: Seq[(String, Seq[String])] = Seq(
      "all" -> Seq("de", "en", "es", "fr", "zh"),
      "three" -> Seq("de", "en", "fr"),
      "two" -> Seq("en", "zh"),
      "one" -> Seq("en"))
    // warmup: one full unfiltered stack off-clock
    queries.Pipeline.annFullStack(spark, sfDir).collect()
    spark.catalog.clearCache()
    for ((label, langs) <- langSets) {
      val allow = docs.filter(col("lang").isin(langs: _*))
        .select(col("doc_id").as("vec_id"))
      val nAllow = allow.count()
      val t0 = System.nanoTime()
      val out = queries.Pipeline.annFullStack(spark, sfDir, allow = Some(allow)).collect()
      val sec = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      // candidate volume under the same trainer: members ∩ allow,
      // summed over each query's probed lists (the ADC input size)
      graft.expressions.VectorExpressions.register(spark)
      val e = sources.Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
      val model = ops.KMeans.fit(e, "vec_id", "embedding",
        queries.Pipeline.kmK, queries.Pipeline.kmIters, forceKernel = true)
      val lists = ops.KMeans.assign(e, "embedding", model, forceKernel = true)
        .select(col("vec_id"), col("cluster").as("list_id"))
        .join(broadcast(allow), Seq("vec_id"), "left_semi")
      val perList = lists.groupBy(col("list_id")).count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      // true ADC candidate volume: per query, the ALLOWED members of
      // its ivfProbe highest-cosine lists (the trainer's own routing)
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      def cosD(a: Array[Double], b: Array[Double]): Double = {
        val dot = a.indices.map(i => a(i) * b(i)).sum
        dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      }
      val qVecs = e.filter(col("vec_id") < 5).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      val candidates = qVecs.map { case (_, qv) =>
        model.centroids.zipWithIndex
          .map { case (c, j) => (r6(cosD(qv, c)), j) }
          .sortBy { case (sc, j) => (-sc, j) }.take(queries.Pipeline.ivfProbe)
          .map { case (_, j) => perList.getOrElse(j, 0L) }.sum
      }.sum
      spark.catalog.clearCache()
      println(s"""{"metric":"ann_filtered","allow":"$label","allow_rows":$nAllow,""" +
        s""""hits":${out.length},"candidates":$candidates,"stack_sec":${fx(sec, 2)}}""")
    }
  }

  /** p49 scale witness: RRF fusion cost vs pool size. Each arm is a
    * distributed plan ending in TakeOrdered(pool); the fusion itself
    * runs on the DRIVER over the two pool-sized rank lists. The claim
    * that makes the driver-side fold legitimate at 100 TB: fusion time
    * is microseconds and grows only with POOL (not corpus), so the
    * curve times the arms and the fold separately as pool grows
    * 20 → 500. */
  private def rrfCurve(spark: SparkSession, sfDir: String): Unit = {
    graft.expressions.VectorExpressions.register(spark)
    val rrfK = 60
    // warmup off-clock
    queries.Pipeline.bm25Scores(spark, sfDir).orderBy(col("bm25").desc).limit(5).collect()
    for (pool <- Seq(20, 100, 500)) {
      val t0 = System.nanoTime()
      val lex = queries.Pipeline.bm25Scores(spark, sfDir)
        .filter(col("doc_id") =!= 0L)
        .orderBy(col("bm25").desc, col("doc_id")).limit(pool)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
      val lexSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val en = sources.Tables.documents(spark, sfDir).filter(col("lang") === "en")
        .select(col("doc_id").as("vec_id"))
      val e = sources.Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"),
        expr("sqrt(float_dot(embedding, embedding))").as("nrm"))
      val q = e.filter(col("vec_id") === 0L)
        .select(col("embedding").as("qe"), col("nrm").as("qn"))
      val vec = e.join(broadcast(en), Seq("vec_id"), "left_semi")
        .filter(col("vec_id") =!= 0L)
        .crossJoin(broadcast(q))
        .withColumn("cos", round(expr("float_dot(embedding, qe)") / (col("nrm") * col("qn")), 6))
        .orderBy(col("cos").desc, col("vec_id")).limit(pool)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
      val vecSec = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val rl = lex.zipWithIndex.map { case (id, i) => id -> (i + 1) }.toMap
      val rv = vec.zipWithIndex.map { case (id, i) => id -> (i + 1) }.toMap
      val fused = (rl.keySet ++ rv.keySet).toSeq.map { id =>
        id -> ((rl.get(id).map(r => 1.0 / (rrfK + r)).getOrElse(0.0)) +
          (rv.get(id).map(r => 1.0 / (rrfK + r)).getOrElse(0.0)))
      }.sortBy { case (id, sc) => (-sc, id) }.take(10)
      val fuseUs = (System.nanoTime() - t2) / 1e3
      spark.catalog.clearCache()
      require(fused.size == 10, "fusion must fill its top-10")
      println(s"""{"metric":"rrf_fusion","pool":$pool,"lex_sec":${fx(lexSec, 2)},""" +
        s""""vec_sec":${fx(vecSec, 2)},"fuse_usec":${fx(fuseUs, 0)},""" +
        s""""fused_state_ids":${rl.size + rv.size}}""")
    }
  }
}
