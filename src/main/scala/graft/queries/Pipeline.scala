package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables._
import graft.functions.{TextFns, VectorFns}

/** LLM-training-data pipeline operators (SURVEY §2 B.7 + charter):
  * text statistics, quality scoring, language ID, fingerprinting,
  * MinHash signatures + LSH candidate pairs, exact n-gram Jaccard,
  * SimHash, embedding near-dup via LSH buckets, LSH-bucketed ANN,
  * multimodal binary plumbing.
  *
  * Oracle strategy: every hash/bucket here is md5- or integer-based
  * (TextFns/VectorFns), so even the LSH pipelines are bit-identical in
  * DuckDB — the oracle SQL is rendered from the same Scala constants
  * (stopword lists, plane formula, seeds, thresholds) as the Spark
  * expressions.
  */
object Pipeline {

  private val toks = TextFns.tokensExpr("text")
  private val duckToks = "list_filter(string_split(text, ' '), t -> t <> '')"
  private val duckShingles =
    "list_transform(range(greatest(len(toks)-2, 0)), i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])"

  // p1 — token counting per language: whitespace tokens + a regex
  // ("BPE-ish" word-piece) count; all aggregates integer-exact.
  val p1 = QuerySpec(
    "p1_text_stats",
    (s, d) =>
      documents(s, d)
        .withColumn("toks", expr(toks))
        .select(
          col("lang"),
          size(col("toks")).as("n_tok"),
          length(col("text")).as("n_ch"),
          size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))).as("n_re"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("sum_tokens"),
          (sum(col("n_tok")).cast("double") / count(lit(1))).as("avg_tokens"),
          max(col("n_tok")).as("max_tokens"),
          sum(col("n_ch")).as("sum_chars"),
          sum(col("n_re")).as("sum_regex_tokens"))
        .orderBy(col("lang")),
    // Bare integer SUM is HUGEINT in DuckDB, which stringifies as float
    // through the driver's pandas path ("3" vs "3.0") — CAST to BIGINT
    // pins the type Spark's long sum already has (r1 red, VERDICT #1).
    Some(s"""WITH base AS (SELECT lang, $duckToks AS toks, text FROM documents)
            |SELECT lang, COUNT(*) AS n_docs,
            |       CAST(SUM(len(toks)) AS BIGINT) AS sum_tokens,
            |       CAST(SUM(len(toks)) AS DOUBLE) / COUNT(*) AS avg_tokens,
            |       MAX(len(toks)) AS max_tokens,
            |       CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
            |       CAST(SUM(len(regexp_extract_all(text, '[a-z]+'))) AS BIGINT) AS sum_regex_tokens
            |FROM base GROUP BY lang ORDER BY lang""".stripMargin))

  // p2 — per-document quality scoring: mean token length, type-token
  // ratio, stopword ratio, rule-based flag. Integer divisions only →
  // bit-identical doubles, no rounding needed.
  val p2 = QuerySpec(
    "p2_quality_score",
    (s, d) =>
      documents(s, d)
        .withColumn("toks", expr(toks))
        .withColumn("n_tok", size(col("toks")))
        .withColumn("len_sum", expr(TextFns.tokenLenSumExpr("toks")))
        .withColumn("n_uniq", size(array_distinct(col("toks"))))
        .withColumn("n_stop", expr(TextFns.wordListCountExpr("toks", TextFns.stopwords.toMap.apply("en"))))
        .select(
          col("doc_id"),
          col("n_tok"),
          (col("len_sum").cast("double") / col("n_tok")).as("avg_tok_len"),
          (col("n_uniq").cast("double") / col("n_tok")).as("ttr"),
          (col("n_stop").cast("double") / col("n_tok")).as("stop_ratio"),
          when(col("n_tok") >= 30 &&
            col("n_uniq").cast("double") / col("n_tok") >= 0.2 &&
            col("n_stop").cast("double") / col("n_tok") <= 0.5, "good")
            .otherwise("low").as("quality"))
        .orderBy(col("doc_id")),
    Some {
      val en = TextFns.stopwords.toMap.apply("en").map(w => s"'$w'").mkString(", ")
      s"""WITH base AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |feat AS (SELECT doc_id, len(toks) AS n_tok,
         |                list_sum(list_transform(toks, t -> length(t))) AS len_sum,
         |                len(list_distinct(toks)) AS n_uniq,
         |                list_sum(list_transform(toks, t -> CASE WHEN t IN ($en) THEN 1 ELSE 0 END)) AS n_stop
         |         FROM base)
         |SELECT doc_id, n_tok,
         |       CAST(len_sum AS DOUBLE) / n_tok AS avg_tok_len,
         |       CAST(n_uniq AS DOUBLE) / n_tok AS ttr,
         |       CAST(n_stop AS DOUBLE) / n_tok AS stop_ratio,
         |       CASE WHEN n_tok >= 30 AND CAST(n_uniq AS DOUBLE)/n_tok >= 0.2
         |                 AND CAST(n_stop AS DOUBLE)/n_tok <= 0.5
         |            THEN 'good' ELSE 'low' END AS quality
         |FROM feat ORDER BY doc_id""".stripMargin
    })

  // p3 — language-ID heuristic: per-language stopword votes, argmax
  // with alphabetical tiebreak, 'und' when no list matches. Confusion
  // matrix against the generator's lang column.
  val p3 = QuerySpec(
    "p3_langid", {
      val langs = TextFns.stopwords.map(_._1)
      (s, d) => {
        val scored = TextFns.stopwords.foldLeft(
          documents(s, d).withColumn("toks", expr(toks))) {
          case (df, (lg, words)) =>
            df.withColumn(s"s_$lg", expr(TextFns.wordListCountExpr("toks", words)))
        }
        val g = greatest(langs.map(lg => col(s"s_$lg")): _*)
        val pred = langs.foldRight(lit("und")) { (lg, rest) =>
          when(col(s"s_$lg") === g && g > 0, lg).otherwise(rest)
        }
        // foldRight keeps alphabetical priority: first max wins.
        scored.withColumn("pred", pred)
          .groupBy(col("lang"), col("pred"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("lang"), col("pred"))
      }
    },
    Some {
      val scoreCols = TextFns.stopwords.map { case (lg, words) =>
        val lst = words.map(w => s"'$w'").mkString(", ")
        s"list_sum(list_transform(toks, t -> CASE WHEN t IN ($lst) THEN 1 ELSE 0 END)) AS s_$lg"
      }.mkString(",\n                ")
      val gExpr = TextFns.stopwords.map(p => s"s_${p._1}").mkString("greatest(", ", ", ")")
      val whens = TextFns.stopwords.map(p => s"WHEN s_${p._1} = g AND g > 0 THEN '${p._1}'").mkString(" ")
      s"""WITH base AS (SELECT doc_id, lang, $duckToks AS toks FROM documents),
         |scored AS (SELECT doc_id, lang,
         |                $scoreCols
         |         FROM base),
         |withg AS (SELECT *, $gExpr AS g FROM scored),
         |pred AS (SELECT lang, CASE $whens ELSE 'und' END AS pred FROM withg)
         |SELECT lang, pred, COUNT(*) AS n FROM pred GROUP BY lang, pred ORDER BY lang, pred""".stripMargin
    })

  // p4 — document fingerprinting: order-sensitive rolling hash over the
  // token stream + content md5. Pure int64 arithmetic → portable.
  val p4 = QuerySpec(
    "p4_fingerprint",
    (s, d) =>
      documents(s, d)
        .withColumn("toks", expr(toks))
        .select(
          col("doc_id"),
          expr(TextFns.rollingHashExpr("toks")).as("fingerprint"),
          md5(col("text")).as("content_md5"))
        .orderBy(col("doc_id")),
    Some("""WITH base AS (SELECT doc_id, text, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents)
           |SELECT doc_id,
           |       list_reduce(list_prepend(CAST(0 AS BIGINT),
           |                     list_transform(toks, t -> CAST(ascii(t)*31 + length(t) AS BIGINT))),
           |                   (a, x) -> (a*131 + x) % 1000000007) AS fingerprint,
           |       md5(text) AS content_md5
           |FROM base ORDER BY doc_id""".stripMargin))

  // p5 — MinHash signatures: one md5 per shingle, then 4 affine hashes
  // over the folded 60-bit ints (16× less hashing than seeded-md5).
  val p5 = QuerySpec(
    "p5_minhash_sig",
    (s, d) => {
      // explode to one shingle per row: md5 runs once per DISTINCT
      // shingle (the 4-consumer HOF form re-inlines the md5 array into
      // every per-seed array_min — 4× the hashing), and the per-seed
      // minima become codegen'd min() aggregates. min over the multiset
      // == min over the set, so the distinct dictionary is lossless;
      // explode_outer keeps short docs (null shingle → null signature,
      // matching array_min over an empty array).
      val inst = documents(s, d)
        .withColumn("toks", expr(toks))
        .select(col("doc_id"), explode_outer(expr(TextFns.shinglesExpr("toks"))).as("sgl"))
      val dict = inst.select(col("sgl")).where(col("sgl").isNotNull).distinct()
        .withColumn("h", expr(TextFns.md5IntScalarExpr("sgl")))
      val mins = (0 until 4).map(k =>
        min(expr(s"(${TextFns.minhashA(k)} * h + ${TextFns.minhashB(k)}) % ${TextFns.minhashP}"))
          .as(s"mh$k"))
      inst.join(dict, Seq("sgl"), "left_outer")
        .groupBy(col("doc_id"))
        .agg(mins.head, mins.tail: _*)
        .orderBy(col("doc_id"))
    },
    Some {
      val mhs = (0 until 4).map(k =>
        s"${TextFns.minhashSqlDuck("hs", k)} AS mh$k").mkString(",\n       ")
      s"""WITH base AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |shs AS (SELECT doc_id, $duckShingles AS sh FROM base),
         |hsd AS (SELECT doc_id, ${TextFns.md5IntsSqlDuck("sh")} AS hs FROM shs)
         |SELECT doc_id,
         |       $mhs
         |FROM hsd ORDER BY doc_id""".stripMargin
    })

  /** MinHash-LSH verified near-dup pairs — the p6 pipeline up to the
    * (da, db, jaccard >= 0.8) pair list, shared by p6 (pair report) and
    * p13 (cluster resolution): 8 hashes → 2 bands of 4 → band-bucket
    * join for candidates → exact shingle-Jaccard verify. This is the
    * 100 TB shape: candidates come from an equi-join on band values
    * (shuffle on tiny band keys), never from an all-pairs product; the
    * quadratic step touches only same-band docs. */
  private[graft] def minhashPairs(s: SparkSession, d: String): DataFrame = {
    // Signatures and shingle sets are O(docs) and reused across the
    // self-joins below — persist them, or Spark recomputes the whole
    // md5 pipeline once per join branch (~6×). At cluster scale these
    // are exactly the intermediates a pipeline materializes to a table.
    val shs = documents(s, d)
      .withColumn("toks", expr(toks))
      .withColumn("sh", expr(TextFns.shinglesExpr("toks")))
      .select(col("doc_id"), col("sh"))
      .persist()
    // The md5 base-hash array materializes ONCE behind its own cache
    // boundary: projection collapse otherwise inlines the md5
    // transform into each of the 8 per-seed minhash projections — with
    // the two band branches that is up to 16× the hashing (measured at
    // the signing stage in ScaleSmoke incremental; same fix as p30).
    val hsF = shs.withColumn("hs", expr(TextFns.md5IntsExpr("sh")))
      .select(col("doc_id"), col("hs"))
      .persist()
    val sig = hsF.select(Seq(col("doc_id")) ++
      (0 until 8).map(k => expr(TextFns.minhashExpr("hs", k)).as(s"mh$k")): _*)
    // concat (not concat_ws): a null minhash (empty doc) must yield a
    // null band that joins nothing, matching SQL || semantics. Both
    // bands come from ONE generator pass, not a 2× union re-scan.
    val bands = sig.select(col("doc_id"), explode(array(
        struct(lit(0).as("band_id"),
          concat(col("mh0"), lit("|"), col("mh1"), lit("|"), col("mh2"), lit("|"), col("mh3")).as("band_val")),
        struct(lit(1).as("band_id"),
          concat(col("mh4"), lit("|"), col("mh5"), lit("|"), col("mh6"), lit("|"), col("mh7")).as("band_val")))).as("b"))
      .select(col("doc_id"), col("b.band_id").as("band_id"), col("b.band_val").as("band_val"))
      .persist()
    val a = bands.select(col("doc_id").as("da"), col("band_id"), col("band_val"))
    val b = bands.select(col("doc_id").as("db"), col("band_id").as("band_id2"), col("band_val").as("band_val2"))
    val cand = a.join(b,
        col("band_id") === col("band_id2") && col("band_val") === col("band_val2") && col("da") < col("db"))
      .select(col("da"), col("db")).distinct()
    // Verify-stage shape: the exact-Jaccard join STARTS from `cand`
    // (tiny — near-dups are a sliver of the corpus by construction), so
    // AQE broadcasts the candidate side of both joins below and the
    // full instance table `ss` is scanned, never shuffled. An explicit
    // pre-prune (broadcast semi-join of candidate ids into ss) was
    // A/B'd and LOST: it serializes the DAG behind a broadcast barrier
    // for shuffle volume AQE already avoids. At cluster scale the same
    // plan holds — scans stay linear, shuffled rows stay O(candidates).
    val ss = shs.select(col("doc_id"), explode(array_distinct(col("sh"))).as("s")).persist()
    val sz = ss.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val ssa = ss.select(col("doc_id").as("da"), col("s"))
    val ssb = ss.select(col("doc_id").as("db2"), col("s").as("s2"))
    val inter = cand
      .join(ssa, "da")
      .join(ssb, col("db") === col("db2") && col("s") === col("s2"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("inter"))
    val sza = sz.select(col("doc_id").as("da"), col("n").as("na"))
    val szb = sz.select(col("doc_id").as("db"), col("n").as("nb"))
    inter.join(sza, "da").join(szb, "db")
      .withColumn("jaccard", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= 0.8)
      .select(col("da"), col("db"), col("jaccard"))
  }

  /** The oracle-side CTE chain ending in `pairs(da, db, jaccard)`,
    * parameterized by the candidate-pair predicate — shared by the
    * p6/p13 oracles (`a.doc_id < b.doc_id` self-dedup) and the p30
    * oracle (increment-side × corpus-side split). */
  private def duckPairCtesWith(candPred: String): String = {
    val mhs = (0 until 8).map(k =>
      s"${TextFns.minhashSqlDuck("hs", k)} AS mh$k").mkString(",\n       ")
    s"""base AS (SELECT doc_id, $duckToks AS toks FROM documents),
       |shs AS (SELECT doc_id, $duckShingles AS sh FROM base),
       |hsd AS (SELECT doc_id, sh, ${TextFns.md5IntsSqlDuck("sh")} AS hs FROM shs),
       |sig AS (SELECT doc_id, sh, $mhs FROM hsd),
       |bands AS (
       |  SELECT doc_id, 0 AS band_id, mh0 || '|' || mh1 || '|' || mh2 || '|' || mh3 AS band_val FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1, mh4 || '|' || mh5 || '|' || mh6 || '|' || mh7 FROM sig),
       |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |         FROM bands a JOIN bands b
       |           ON a.band_id = b.band_id AND a.band_val = b.band_val AND $candPred),
       |ss AS (SELECT DISTINCT doc_id, unnest(sh) AS s FROM shs),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM ss GROUP BY 1),
       |ix AS (SELECT da, db, COUNT(*) AS inter
       |       FROM cand JOIN ss x ON x.doc_id = da JOIN ss y ON y.doc_id = db AND y.s = x.s
       |       GROUP BY 1, 2),
       |pairs AS (SELECT da, db, CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
       |          FROM ix JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
       |          WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8)""".stripMargin
  }

  /** The p6/p13 rendering: self-dedup, lower id on the left. */
  private val duckPairCtes: String = duckPairCtesWith("a.doc_id < b.doc_id")

  // p6 — MinHash LSH near-dup pair report (see [[minhashPairs]]).
  val p6 = QuerySpec(
    "p6_minhash_lsh_pairs",
    (s, d) =>
      minhashPairs(s, d)
        .select(col("da"), col("db"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("da"), col("db")),
    Some(s"""WITH $duckPairCtes
            |SELECT da, db, ROUND(jaccard, 6) AS jaccard
            |FROM pairs ORDER BY da, db""".stripMargin))

  // p13 — near-dup CLUSTER resolution: p6's pair list closed under
  // transitivity (connected components, graft.ops.Dedup) — the step
  // that turns "A≈B, B≈C" into one dedup group with one survivor.
  // Oracle: recursive CTE computing min-reachable-id per vertex over
  // the identical pair list.
  val p13 = QuerySpec(
    "p13_neardup_clusters",
    (s, d) => {
      // persist: Dedup reads the pair list through BOTH union branches
      // of its edge list — without this the candidate/verify joins
      // (everything past minhashPairs' cached leaves) run twice
      val pairList = minhashPairs(s, d).select(col("da"), col("db")).persist()
      val comps = graft.ops.Dedup.connectedComponents(pairList, "da", "db")
      // comps is checkpoint-backed (eager) — the pair cache is dead weight
      // from here on; dropping it keeps long-lived sessions leak-free
      pairList.unpersist()
      comps.orderBy(col("cluster_rep"), col("member"))
    },
    Some(s"""WITH RECURSIVE $duckPairCtes,
            |edges AS (SELECT da AS v, db AS w FROM pairs
            |          UNION ALL SELECT db, da FROM pairs),
            |walk(v, lbl) AS (
            |  SELECT v, v FROM (SELECT DISTINCT v FROM edges)
            |  UNION
            |  SELECT e.v, wk.lbl FROM edges e JOIN walk wk ON wk.v = e.w)
            |SELECT MIN(lbl) AS cluster_rep, v AS member
            |FROM walk GROUP BY v ORDER BY cluster_rep, member""".stripMargin))

  // p7 — exact n-gram (3-shingle) Jaccard near-dup: the ground-truth
  // variant of p6 (no LSH recall loss). All-pairs via shingle equi-join
  // — correct at harness scale, the documented brute-force baseline.
  val p7 = QuerySpec(
    "p7_ngram_jaccard",
    (s, d) => {
      val ss = documents(s, d)
        .withColumn("toks", expr(toks))
        .withColumn("sh", expr(TextFns.shinglesExpr("toks")))
        .select(col("doc_id"), explode(array_distinct(col("sh"))).as("s"))
        .persist() // reused by both join sides + sizes
      val sz = ss.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val a = ss.select(col("doc_id").as("da"), col("s"))
      val b = ss.select(col("doc_id").as("db"), col("s").as("s2"))
      val inter = a.join(b, col("s") === col("s2") && col("da") < col("db"))
        .groupBy(col("da"), col("db")).agg(count(lit(1)).as("inter"))
      val sza = sz.select(col("doc_id").as("da"), col("n").as("na"))
      val szb = sz.select(col("doc_id").as("db"), col("n").as("nb"))
      inter.join(sza, "da").join(szb, "db")
        .withColumn("jaccard", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
        .filter(col("jaccard") >= 0.8)
        .select(col("da"), col("db"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("da"), col("db"))
    },
    Some(s"""WITH base AS (SELECT doc_id, $duckToks AS toks FROM documents),
            |shs AS (SELECT doc_id, $duckShingles AS sh FROM base),
            |ss AS (SELECT DISTINCT doc_id, unnest(sh) AS s FROM shs),
            |sz AS (SELECT doc_id, COUNT(*) AS n FROM ss GROUP BY 1),
            |ix AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
            |       FROM ss a JOIN ss b ON a.s = b.s AND a.doc_id < b.doc_id
            |       GROUP BY 1, 2)
            |SELECT da, db, ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard
            |FROM ix JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
            |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8
            |ORDER BY da, db""".stripMargin))

  // p8 — 16-bit SimHash per document over the token multiset.
  // Shape: explode to token instances, hash each DISTINCT token once
  // (vocabulary ≪ instances under Zipf), join the ±1 vote vectors back,
  // then 16 codegen'd integer sums per doc. The one-pass HOF
  // formulation (TextFns.simhashExpr) computes the same bits but its
  // interpreted 16-wide lambda accumulator per token instance costs
  // ~2× at sf0.1 — and the vocabulary dictionary is the shape that
  // wins harder as the corpus grows. explode_outer keeps empty docs:
  // zero votes → every bit ties at 0 → all-ones hash; the oracle must
  // COALESCE its empty-list list_sum (NULL in DuckDB) to 0 to agree.
  /** Per-document SimHash as a '0'/'1' string, one vote per md5 hex
    * nibble (width <= 32). Shared by p8 (16-bit hash report) and p15
    * (32-bit banded near-dup pairs — the wider hash keeps random
    * collisions out of the candidate set as the corpus grows). */
  private def simhashDf(s: SparkSession, d: String, bits: Int): DataFrame = {
    val inst = documents(s, d)
      .select(col("doc_id"), explode_outer(expr(toks)).as("t"))
    val dict = inst.select(col("t")).where(col("t").isNotNull).distinct()
      .withColumn("h", md5(col("t")))
      .withColumn("votes", expr(
        s"""transform(sequence(1, $bits), j ->
           |  CASE WHEN substring(h, j, 1) IN ('8','9','a','b','c','d','e','f')
           |       THEN 1 ELSE -1 END)""".stripMargin))
      .select(col("t"), col("votes"))
    val sums = (0 until bits).map(i =>
      sum(coalesce(col("votes")(i), lit(0))).as(s"s$i"))
    val bitsCol = concat((0 until bits).map(i =>
      when(col(s"s$i") >= 0, lit("1")).otherwise(lit("0"))): _*)
    inst.join(dict, Seq("t"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), bitsCol.as("simhash"))
  }

  /** Oracle-side CTE chain ending in `sh(doc_id, simhash)` — shared by
    * the p8 and p15 oracles (width-parameterized like [[simhashDf]]). */
  private def duckSimhashCte(bits: Int): String =
    s"""base AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
       |th AS (SELECT doc_id, list_transform(toks, t -> md5(t)) AS h FROM base),
       |sh AS (SELECT doc_id,
       |       array_to_string(list_transform(range(1, ${bits + 1}), j ->
       |         CASE WHEN COALESCE(list_sum(list_transform(h, x ->
       |                CASE WHEN substr(x, CAST(j AS INT), 1) IN ('8','9','a','b','c','d','e','f')
       |                     THEN 1 ELSE -1 END)), 0) >= 0
       |              THEN '1' ELSE '0' END), '') AS simhash
       |FROM th)""".stripMargin

  val p8 = QuerySpec(
    "p8_simhash",
    (s, d) => simhashDf(s, d, 16).orderBy(col("doc_id")),
    Some(s"""WITH ${duckSimhashCte(16)}
            |SELECT doc_id, simhash FROM sh ORDER BY doc_id""".stripMargin))

  private val nPlanes = 4
  private val dim = 64
  private val sparkBkt = VectorFns.lshBucketExpr("embedding", nPlanes, dim)
  private val duckBkt = VectorFns.lshBucketSqlDuck("embedding", nPlanes, dim)

  // p9 — embedding near-dup: candidate pairs restricted to a shared
  // random-hyperplane LSH bucket (the scale path — bucket equi-join
  // instead of all-pairs), cosine >= 0.30 verified in double.
  val p9 = QuerySpec(
    "p9_embedding_neardup",
    (s, d) => {
      graft.expressions.VectorExpressions.register(s)
      val e = embeddings(s, d).select(
        col("vec_id"), col("embedding"),
        expr(sparkBkt).as("bkt"),
        expr(VectorFns.fastNormExpr("embedding")).as("nrm"))
        .persist() // bucket+norm computed once, reused by both join sides
      val a = e.select(col("vec_id").as("va"), col("embedding").as("ea"), col("bkt"), col("nrm").as("na"))
      val b = e.select(col("vec_id").as("vb"), col("embedding").as("eb"), col("bkt").as("bkt2"), col("nrm").as("nb"))
      // threshold semantics = rounded cosine >= 0.30 (the oracle's
      // SUM-based dot can differ in the last ulp, 6dp is the contract's
      // float granularity) — but rounding is HALF_UP-monotone, so a
      // raw-value filter selects the identical rows without paying a
      // BigDecimal round on every candidate pair; only survivors get
      // rounded. STRICT >: the literal 0.2999995 is binary
      // 0.29999949999…, which itself rounds DOWN to 0.299999 — `>=`
      // would admit that one boundary double the oracle rejects, while
      // every double strictly above it rounds to >= 0.30.
      a.join(b, col("bkt") === col("bkt2") && col("va") < col("vb"))
        .withColumn("cos", expr(VectorFns.fastDotExpr("ea", "eb")) / (col("na") * col("nb")))
        .filter(col("cos") > 0.2999995)
        .select(col("va"), col("vb"), round(col("cos"), 6).as("cosine"))
        .orderBy(col("va"), col("vb"))
    },
    Some(s"""WITH e AS (SELECT vec_id, $duckBkt AS bkt FROM embeddings),
            |f AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
            |             CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
            |n AS (SELECT vec_id, SQRT(SUM(v*v)) AS nrm FROM f GROUP BY 1),
            |cand AS (SELECT a.vec_id AS va, b.vec_id AS vb
            |         FROM e a JOIN e b ON a.bkt = b.bkt AND a.vec_id < b.vec_id),
            |p AS (SELECT cand.va, cand.vb, SUM(x.v * y.v) AS dot
            |      FROM cand JOIN f x ON x.vec_id = cand.va JOIN f y ON y.vec_id = cand.vb AND y.i = x.i
            |      GROUP BY 1, 2),
            |c AS (SELECT va, vb, dot / (na.nrm * nb.nrm) AS cos
            |      FROM p JOIN n na ON na.vec_id = va JOIN n nb ON nb.vec_id = vb)
            |SELECT va, vb, ROUND(cos, 6) AS cosine FROM c
            |WHERE ROUND(cos, 6) >= 0.30 ORDER BY va, vb""".stripMargin))

  // p10 — LSH-bucketed ANN: per query vector, top-3 among same-bucket
  // candidates only (recall-bounded, but candidate set is O(bucket)
  // instead of O(n) — the IVF-style scale path next to q18's exact
  // brute force).
  val p10 = QuerySpec(
    "p10_ann_lsh",
    (s, d) => {
      graft.expressions.VectorExpressions.register(s)
      val e = embeddings(s, d).select(
        col("vec_id"), col("embedding"),
        expr(sparkBkt).as("bkt"),
        expr(VectorFns.fastNormExpr("embedding")).as("nrm"))
        .persist() // shared by the query side and the candidate side
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("bkt").as("qbkt"), col("nrm").as("qn"))
      // rank by the ROUNDED cosine (cid tiebreak): ordering on the raw
      // double lets an engine-side ulp difference flip near-tied ranks
      val pairs = e.join(broadcast(q), col("bkt") === col("qbkt") && col("vec_id") =!= col("qid"))
        .withColumn("cos", round(expr(VectorFns.fastDotExpr("embedding", "qe")) / (col("nrm") * col("qn")), 6))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
      pairs.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("qid"), col("rn"), col("vec_id").as("cid"), col("cos").as("cosine"))
        .orderBy(col("qid"), col("rn"))
    },
    Some(s"""WITH e AS (SELECT vec_id, $duckBkt AS bkt FROM embeddings),
            |f AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
            |             CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
            |n AS (SELECT vec_id, SQRT(SUM(v*v)) AS nrm FROM f GROUP BY 1),
            |cand AS (SELECT q.vec_id AS qid, c.vec_id AS cid
            |         FROM e q JOIN e c ON q.bkt = c.bkt AND q.vec_id < 5 AND c.vec_id <> q.vec_id),
            |p AS (SELECT cand.qid, cand.cid, SUM(x.v * y.v) AS dot
            |      FROM cand JOIN f x ON x.vec_id = cand.qid JOIN f y ON y.vec_id = cand.cid AND y.i = x.i
            |      GROUP BY 1, 2),
            |c AS (SELECT qid, cid, dot / (na.nrm * nb.nrm) AS cos
            |      FROM p JOIN n na ON na.vec_id = qid JOIN n nb ON nb.vec_id = cid),
            |r AS (SELECT qid, cid, cos,
            |             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ROUND(cos, 6) DESC, cid) AS rn
            |      FROM c)
            |SELECT qid, CAST(rn AS INTEGER) AS rn, cid, ROUND(cos, 6) AS cosine
            |FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin))

  // m1 — multimodal binary-column plumbing: text → utf8 bytes as the
  // opaque payload, byte length / content hash / head sample. The
  // decode/feature-extract stub lives in graft.multimodal (tested in
  // ScalaTest); this query checks the binary column semantics are
  // portable.
  val m1 = QuerySpec(
    "m1_multimodal_binary",
    (s, d) =>
      documents(s, d)
        .select(
          col("doc_id"),
          octet_length(encode(col("text"), "UTF-8")).as("n_bytes"),
          sha2(col("text"), 256).as("content_sha"),
          base64(encode(substring(col("text"), 1, 8), "UTF-8")).as("head_b64"),
          col("lang"))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
           |       octet_length(encode(text)) AS n_bytes,
           |       sha256(text) AS content_sha,
           |       base64(encode(substr(text, 1, 8))) AS head_b64,
           |       lang
           |FROM documents ORDER BY doc_id""".stripMargin))

  // p12 — ANN via IVF (inverted file): every vector is coarse-quantized
  // to its nearest of K deterministic seed centroids (one broadcast
  // N×K pass — K ≪ N, so this is the linear "train-free" IVF build);
  // queries probe only their nprobe nearest lists, so the scored
  // candidate set is ~nprobe/K of the corpus instead of all of it.
  // Complements p10's LSH buckets: IVF recall degrades gracefully with
  // nprobe, LSH with band count — both shapes are list-equi-joins that
  // scale without an all-pairs product.
  private val ivfK = 16
  private[graft] val ivfProbe = 4

  val p12 = QuerySpec(
    "p12_ann_ivf",
    (s, d) => {
      graft.expressions.VectorExpressions.register(s)
      val e = embeddings(s, d).select(
        col("vec_id"), col("embedding"),
        expr(VectorFns.fastNormExpr("embedding")).as("nrm"))
        .persist() // reused: assignment, probe, and exact rescoring
      val cent = e.filter(col("vec_id") < ivfK)
        .select(col("vec_id").as("cent_id"), col("embedding").as("ce"), col("nrm").as("cn"))
      // both ranking windows order by the ROUNDED cosine (+ id tiebreak)
      // so near-ties resolve identically to the oracle's SUM-based dot
      val scored = e.crossJoin(broadcast(cent))
        .withColumn("ccos",
          round(expr(VectorFns.fastDotExpr("embedding", "ce")) / (col("nrm") * col("cn")), 6))
      val wAssign = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cent_id"))
      val ranked = scored
        .select(col("vec_id"), col("cent_id"), col("ccos"),
          row_number().over(wAssign).as("crn"))
        .persist() // one N×K ranking feeds both the lists and the probes
      val assigned = ranked.filter(col("crn") === 1)
        .select(col("vec_id"), col("cent_id").as("list_id"))
      val probes = ranked.filter(col("vec_id") < 5 && col("crn") <= ivfProbe)
        .select(col("vec_id").as("qid"), col("cent_id").as("list_id"))
      val qvec = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
      // no distinct(): (qid, vec_id) is unique by construction — each
      // vec_id holds exactly ONE membership row (crn = 1) and probes
      // carry each (qid, list_id) once, so the list equi-join can never
      // duplicate a pair. The distinct was a full extra Exchange +
      // two HashAggregates over the candidate set for nothing
      // (guide §2.4: "a distinct on data that is already unique");
      // the oracle's SELECT DISTINCT is equally a no-op on its side.
      val cand = assigned.join(broadcast(probes), "list_id")
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"))
      val pairs = cand
        .join(e, "vec_id")
        .join(broadcast(qvec), "qid")
        .withColumn("cos",
          round(expr(VectorFns.fastDotExpr("embedding", "qe")) / (col("nrm") * col("qn")), 6))
      val wTop = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
      pairs.withColumn("rn", row_number().over(wTop))
        .filter(col("rn") <= 3)
        .select(col("qid"), col("rn"), col("vec_id").as("cid"), col("cos").as("cosine"))
        .orderBy(col("qid"), col("rn"))
    },
    Some(s"""WITH f AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
            |             CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
            |n AS (SELECT vec_id, SQRT(SUM(v*v)) AS nrm FROM f GROUP BY 1),
            |cent AS (SELECT vec_id AS cent_id FROM embeddings WHERE vec_id < $ivfK),
            |ad AS (SELECT x.vec_id, c.cent_id, SUM(x.v * y.v) AS dot
            |       FROM f x JOIN cent c ON TRUE JOIN f y ON y.vec_id = c.cent_id AND y.i = x.i
            |       GROUP BY 1, 2),
            |ac AS (SELECT ad.vec_id, ad.cent_id, ad.dot / (na.nrm * nc.nrm) AS ccos
            |       FROM ad JOIN n na ON na.vec_id = ad.vec_id
            |               JOIN n nc ON nc.vec_id = ad.cent_id),
            |rk AS (SELECT vec_id, cent_id, ROW_NUMBER() OVER
            |         (PARTITION BY vec_id ORDER BY ROUND(ccos, 6) DESC, cent_id) AS crn FROM ac),
            |asg AS (SELECT vec_id, cent_id AS list_id FROM rk WHERE crn = 1),
            |probe AS (SELECT vec_id AS qid, cent_id AS list_id FROM rk
            |          WHERE vec_id < 5 AND crn <= $ivfProbe),
            |cand AS (SELECT DISTINCT p.qid, a.vec_id AS cid
            |         FROM probe p JOIN asg a ON a.list_id = p.list_id AND a.vec_id <> p.qid),
            |pd AS (SELECT cand.qid, cand.cid, SUM(x.v * y.v) AS dot
            |       FROM cand JOIN f x ON x.vec_id = cand.qid
            |                 JOIN f y ON y.vec_id = cand.cid AND y.i = x.i
            |       GROUP BY 1, 2),
            |pc AS (SELECT qid, cid, dot / (na.nrm * nb.nrm) AS cos
            |       FROM pd JOIN n na ON na.vec_id = qid JOIN n nb ON nb.vec_id = cid),
            |r AS (SELECT qid, cid, cos, ROW_NUMBER() OVER
            |        (PARTITION BY qid ORDER BY ROUND(cos, 6) DESC, cid) AS rn FROM pc)
            |SELECT qid, CAST(rn AS INTEGER) AS rn, cid, ROUND(cos, 6) AS cosine
            |FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin))

  // p14 — dedup END TO END: the corpus after cluster resolution. p13's
  // components keep the minimum doc_id per cluster; everything else is
  // removed via a LEFT ANTI join (removed list ≪ corpus — at 100 TB the
  // anti join shuffles only ids, never text). Output: per-language
  // corpus size before/after — the number a curation run reports.
  /** Candidate-set sizes for the ANN scale curve (graft.ScaleSmoke):
    * the pre-ranking pair volume each variant actually scores — the
    * number that must track Σ bucket² / Σ probed-list size, not n².
    * Mirrors the candidate step of p10/p12 verbatim (the ranked tail
    * is irrelevant to the count). */
  def annLshCandidates(s: SparkSession, d: String): Long = {
    val e = embeddings(s, d).select(col("vec_id"), expr(sparkBkt).as("bkt"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("bkt").as("qbkt"))
    e.join(broadcast(q), col("bkt") === col("qbkt") && col("vec_id") =!= col("qid")).count()
  }

  def annIvfCandidates(s: SparkSession, d: String): Long = {
    graft.expressions.VectorExpressions.register(s)
    val e = embeddings(s, d).select(col("vec_id"), col("embedding"),
      expr(VectorFns.fastNormExpr("embedding")).as("nrm"))
    val cent = e.filter(col("vec_id") < ivfK)
      .select(col("vec_id").as("cent_id"), col("embedding").as("ce"), col("nrm").as("cn"))
    val scored = e.crossJoin(broadcast(cent))
      .withColumn("ccos",
        round(expr(VectorFns.fastDotExpr("embedding", "ce")) / (col("nrm") * col("cn")), 6))
    val wAssign = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cent_id"))
    val ranked = scored
      .select(col("vec_id"), col("cent_id"), row_number().over(wAssign).as("crn"))
    val assigned = ranked.filter(col("crn") === 1)
      .select(col("vec_id"), col("cent_id").as("list_id"))
    val probes = ranked.filter(col("vec_id") < 5 && col("crn") <= ivfProbe)
      .select(col("vec_id").as("qid"), col("cent_id").as("list_id"))
    assigned.join(broadcast(probes), "list_id")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id")).distinct().count()
  }

  val p14 = QuerySpec(
    "p14_dedup_survivors",
    (s, d) => {
      val pairList = minhashPairs(s, d).select(col("da"), col("db")).persist()
      val comps = graft.ops.Dedup.connectedComponents(pairList, "da", "db")
      pairList.unpersist() // comps is checkpoint-backed — cache no longer needed
      val removed = comps.filter(col("member") =!= col("cluster_rep"))
        .select(col("member").as("doc_id"))
      val docs = documents(s, d).select(col("doc_id"), col("lang")).persist()
      val total = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_total"))
      val kept = docs.join(removed, Seq("doc_id"), "left_anti")
        .groupBy(col("lang")).agg(count(lit(1)).as("n_survivors"))
      // left_outer: a language whose every doc was deduplicated away
      // must still report (lang, n_total, 0), as the oracle does
      total.join(kept, Seq("lang"), "left_outer")
        .select(col("lang"), col("n_total"),
          coalesce(col("n_survivors"), lit(0L)).as("n_survivors"))
        .orderBy(col("lang"))
    },
    Some(s"""WITH RECURSIVE $duckPairCtes,
            |edges AS (SELECT da AS v, db AS w FROM pairs
            |          UNION ALL SELECT db, da FROM pairs),
            |walk(v, lbl) AS (
            |  SELECT v, v FROM (SELECT DISTINCT v FROM edges)
            |  UNION
            |  SELECT e.v, wk.lbl FROM edges e JOIN walk wk ON wk.v = e.w),
            |comp AS (SELECT v, MIN(lbl) AS rep FROM walk GROUP BY v),
            |removed AS (SELECT v FROM comp WHERE v <> rep)
            |SELECT lang, COUNT(*) AS n_total,
            |       CAST(SUM(CASE WHEN doc_id IN (SELECT v FROM removed)
            |                     THEN 0 ELSE 1 END) AS BIGINT) AS n_survivors
            |FROM documents GROUP BY lang ORDER BY lang""".stripMargin))

  // p15 — SimHash near-dup pairs: a 32-bit hash banded into 2 bands of
  // 16, equi-joined on band value; k+1 bands catch every pair within
  // Hamming distance k (pigeonhole), so 2 bands give an EXACT guarantee
  // at distance <= 1 — verified by the explicit 32-position Hamming
  // count. Width and band count are the two scale dials: more bits keep
  // random collisions out of the buckets (16 bits drowned in them by
  // 5k docs), more bands widen the distance guarantee at ~n²/2^b
  // candidates per b-bit band. Same bucket-join shape as p6/p9 — never
  // an all-pairs product.
  val p15 = QuerySpec(
    "p15_simhash_pairs",
    (s, d) => {
      // band rows carry BOTH halves (bv = matched half, ov = the
      // other): a band match means the matched 16 bits are literally
      // equal, so the pair's total Hamming distance IS the other
      // half's distance — no join back to the hash table, and 16
      // comparisons instead of 32. A pair matching both bands appears
      // twice with the same (zero) distance; min() collapses it.
      val sh = simhashDf(s, d, 32).persist() // feeds both band branches
      val bands = sh.select(col("doc_id"), lit(0).as("band_id"),
          substring(col("simhash"), 1, 16).as("bv"), substring(col("simhash"), 17, 16).as("ov"))
        .unionByName(sh.select(col("doc_id"), lit(1).as("band_id"),
          substring(col("simhash"), 17, 16).as("bv"), substring(col("simhash"), 1, 16).as("ov")))
      val a = bands.select(col("doc_id").as("da"), col("band_id"), col("bv"), col("ov").as("ova"))
      val b = bands.select(col("doc_id").as("db"), col("band_id").as("band_id2"), col("bv").as("bv2"), col("ov").as("ovb"))
      val ham = (1 to 16).map(j =>
        when(substring(col("ova"), j, 1) =!= substring(col("ovb"), j, 1), 1).otherwise(0))
        .reduce(_ + _)
      a.join(b,
          col("band_id") === col("band_id2") && col("bv") === col("bv2") && col("da") < col("db"))
        .select(col("da"), col("db"), ham.as("h"))
        .groupBy(col("da"), col("db")).agg(min(col("h")).as("hamming"))
        .filter(col("hamming") <= 1)
        .orderBy(col("da"), col("db"))
    },
    Some {
      val ham = (1 to 16).map(j =>
        s"(CASE WHEN substr(a.ov, $j, 1) <> substr(b.ov, $j, 1) THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH ${duckSimhashCte(32)},
         |bands AS (
         |  SELECT doc_id, 0 AS band_id, substr(simhash, 1, 16) AS bv, substr(simhash, 17, 16) AS ov FROM sh
         |  UNION ALL
         |  SELECT doc_id, 1, substr(simhash, 17, 16), substr(simhash, 1, 16) FROM sh),
         |h AS (SELECT a.doc_id AS da, b.doc_id AS db, $ham AS h
         |      FROM bands a JOIN bands b
         |        ON a.band_id = b.band_id AND a.bv = b.bv AND a.doc_id < b.doc_id),
         |g AS (SELECT da, db, MIN(h) AS hamming FROM h GROUP BY da, db)
         |SELECT da, db, hamming FROM g WHERE hamming <= 1 ORDER BY da, db""".stripMargin
    })

  // p16 — benchmark decontamination: flag training docs sharing >= 3
  // distinct 3-token shingles with any benchmark doc (here: doc_id < 20
  // stands in for the benchmark set). The benchmark side is tiny by
  // definition, so its shingle set BROADCASTS — the 100 TB corpus
  // streams past it with no shuffle of the training side.
  val p16 = QuerySpec(
    "p16_decontaminate",
    (s, d) => {
      val ss = documents(s, d)
        .withColumn("toks", expr(toks))
        .select(col("doc_id"), explode(array_distinct(expr(TextFns.shinglesExpr("toks")))).as("s"))
      val bench = ss.filter(col("doc_id") < 20)
        .select(col("doc_id").as("bench_id"), col("s"))
      val train = ss.filter(col("doc_id") >= 20)
      train.join(broadcast(bench), "s")
        .groupBy(col("doc_id"), col("bench_id"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
        .orderBy(col("doc_id"), col("bench_id"))
    },
    Some(s"""WITH base AS (SELECT doc_id, $duckToks AS toks FROM documents),
            |shs AS (SELECT doc_id, $duckShingles AS sh FROM base),
            |ss AS (SELECT DISTINCT doc_id, unnest(sh) AS s FROM shs),
            |bench AS (SELECT doc_id AS bench_id, s FROM ss WHERE doc_id < 20),
            |train AS (SELECT doc_id, s FROM ss WHERE doc_id >= 20)
            |SELECT doc_id, bench_id, COUNT(*) AS n_shared
            |FROM train JOIN bench USING (s)
            |GROUP BY doc_id, bench_id HAVING COUNT(*) >= 3
            |ORDER BY doc_id, bench_id""".stripMargin))

  // p17 — deterministic stratified sampling: per-language keep rates
  // (en 30%, rest 10%) decided by a content-independent md5 hash of the
  // doc id — reproducible across runs, engines, and cluster sizes (no
  // RNG state), the property a training-data sample must have. One
  // linear pass; the sample decision is a scan-level filter at scale.
  val p17 = QuerySpec(
    "p17_stratified_sample",
    (s, d) => {
      val bucket = expr(s"${TextFns.md5IntScalarExpr("CAST(doc_id AS STRING)")} % 100")
      documents(s, d)
        .select(col("lang"), bucket.as("bucket"))
        .withColumn("rate", when(col("lang") === "en", 30).otherwise(10))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_total"),
          sum(when(col("bucket") < col("rate"), 1).otherwise(0)).as("n_sampled"))
        .orderBy(col("lang"))
    },
    Some(s"""WITH b AS (SELECT lang,
            |       CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % ${TextFns.minhashP} % 100 AS bucket,
            |       CASE WHEN lang = 'en' THEN 30 ELSE 10 END AS rate
            |       FROM documents)
            |SELECT lang, COUNT(*) AS n_total,
            |       CAST(SUM(CASE WHEN bucket < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
            |FROM b GROUP BY lang ORDER BY lang""".stripMargin))

  /** Test hook: the exact 32-bit hash table p15 bands over. */
  def simhash32ForTest(s: SparkSession, d: String): DataFrame = simhashDf(s, d, 32)

  // p20 — IVF coarse-quantizer TRAINING: 3 unrolled iterations of
  // spherical (cosine-assignment) Lloyd's k-means over the embedding
  // corpus (graft.ops.KMeans) — the step p12's "train-free" first-K
  // seeding leaves open. Output: the trained centroid table
  // (cluster_id = seed vec_id, one row per dimension) plus final
  // member counts. The oracle walks the IDENTICAL trajectory in SQL:
  // both sides round every cosine AND every updated centroid
  // coordinate to 6 dp, so float addition order can't fork the paths.
  private[graft] val kmK = 8
  private[graft] val kmIters = 3

  /** DuckDB CTE chain for one k-means iteration t (0-based): rank by
    * rounded cosine (cent_id tiebreak), assign, mean-update rounded to
    * 6 dp, empty clusters COALESCE back to the previous centroid.
    * `fTab`/`nTab` name the flat-vector and norm CTEs (default the raw
    * `f`/`n`; p51 trains in the whitened space `wfl`/`wn_`). */
  private def duckKmeansIter(t: Int, fTab: String = "f", nTab: String = "n"): String =
    s"""cn$t AS (SELECT cent_id, SQRT(SUM(v*v)) AS cnrm FROM c$t GROUP BY 1),
       |sc$t AS (SELECT $fTab.vec_id, c.cent_id, SUM($fTab.v * c.v) AS dot
       |         FROM $fTab JOIN c$t c ON c.i = $fTab.i GROUP BY 1, 2),
       |rk$t AS (SELECT s.vec_id, s.cent_id, ROW_NUMBER() OVER
       |           (PARTITION BY s.vec_id
       |            ORDER BY ROUND(s.dot / (n.nrm * cn.cnrm), 6) DESC, s.cent_id) AS crn
       |         FROM sc$t s JOIN $nTab n ON n.vec_id = s.vec_id
       |                     JOIN cn$t cn ON cn.cent_id = s.cent_id),
       |asg$t AS (SELECT vec_id, cent_id FROM rk$t WHERE crn = 1),
       |m$t AS (SELECT a.cent_id, $fTab.i, ROUND(AVG($fTab.v), 6) AS v
       |        FROM asg$t a JOIN $fTab ON $fTab.vec_id = a.vec_id GROUP BY 1, 2),
       |c${t + 1} AS (SELECT c.cent_id, c.i, COALESCE(m.v, c.v) AS v
       |        FROM c$t c LEFT JOIN m$t m ON m.cent_id = c.cent_id AND m.i = c.i)""".stripMargin

  /** Shared DuckDB WITH-prefix that walks the full k-means trajectory:
    * flattened vectors `f` (0-based i), norms `n`, deterministic seeds,
    * and iterations c0 → c$kmIters. Both the trainer gate (p20/p20b)
    * and the trained-IVF search gate (p22) build on the SAME prefix,
    * so the search oracle probes exactly the centroids the training
    * oracle emits. `src` overrides the source CTEs (must end by
    * defining `fTab(vec_id, i, v)` and `nTab(vec_id, nrm)`) — the p51
    * whitened-space hook; seeds stay the K smallest vec_ids either
    * way (ids are space-independent). */
  private def duckKmeansPrefix(k: Int, src: String = "",
      fTab: String = "f", nTab: String = "n"): String = {
    val srcCtes = if (src.nonEmpty) src else
      s"""f AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         |             CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
         |n AS (SELECT vec_id, SQRT(SUM(v*v)) AS nrm FROM f GROUP BY 1)""".stripMargin
    s"""WITH $srcCtes,
       |seeds AS (SELECT vec_id AS cent_id FROM embeddings ORDER BY vec_id LIMIT $k),
       |c0 AS (SELECT s.cent_id, $fTab.i, ROUND($fTab.v, 6) AS v
       |       FROM $fTab JOIN seeds s ON $fTab.vec_id = s.cent_id),
       |${(0 until kmIters).map(t => duckKmeansIter(t, fTab, nTab)).mkString(",\n")}""".stripMargin
  }

  /** One trainer gate entry, parameterized by K so the SAME oracle
    * trajectory covers both argmax strategies (the k ≤ threshold
    * literal-expanded plan and the k > threshold BestCentroid kernel
    * — `graft.ops.KMeans.kernelCellThreshold`). */
  private def kmeansSpec(name: String, k: Int): QuerySpec = QuerySpec(
    name,
    (s, d) => {
      import s.implicits._
      graft.expressions.VectorExpressions.register(s)
      val e = embeddings(s, d).select(col("vec_id"), col("embedding")).persist()
      // forceKernel (r22): the trainer gates now both run the
      // BestCentroid kernel — the strategies are bit-identical
      // (KMeansSpec fuzz/trajectory pins), and the expanded plan paid a
      // fresh janino compile of a K·dim-wide projection EVERY iteration
      // (~2.5 s of p20's 3.9 s — the measured dominant cost at any
      // corpus size where the scan doesn't amortize it). The expanded
      // strategy's 100 TB rationale (fused whole-stage arithmetic on
      // one-shot big scans) is witnessed by KMeansSpec's plan pin
      // ("expanded argmax stays inside whole-stage codegen") + the
      // existing parity tests, not by re-paying the compile here.
      val model = graft.ops.KMeans.fit(e, "vec_id", "embedding", k, kmIters,
        forceKernel = true)
      e.unpersist()
      val dim = model.centroids.head.length
      val rows = for {
        j <- 0 until k
        i <- 0 until dim
      } yield (model.seedIds(j), i, model.centroids(j)(i), model.sizes(j))
      rows.toDF("cluster_id", "dim", "c", "n")
        .orderBy(col("cluster_id"), col("dim"))
    },
    Some(s"""${duckKmeansPrefix(k)},
            |sz AS (SELECT cent_id, COUNT(*) AS n FROM asg${kmIters - 1} GROUP BY 1)
            |SELECT c.cent_id AS cluster_id, CAST(c.i AS INTEGER) AS dim, c.v AS c,
            |       COALESCE(sz.n, 0) AS n
            |FROM c$kmIters c LEFT JOIN sz ON sz.cent_id = c.cent_id
            |ORDER BY cluster_id, dim""".stripMargin))

  // p21 — sequence packing (token-budget binning): assign each doc to
  // the fixed-size training pack where its FIRST token lands, via a
  // per-language running token sum — the distributed approximation of
  // greedy sample packing (true first-fit is inherently sequential;
  // cumsum-binning is order-preserving, deterministic, and one window
  // pass). Output is the pack manifest: docs/tokens/id-range per pack.
  // Scale shape: ONE shuffle (partition by lang), then a sorted
  // running sum inside each partition — at 100 TB you sub-shard the
  // window key to (lang, doc_id range) and offset per-shard budgets,
  // same plan, bounded partitions. Token convention = the pinned
  // p1/p5 whitespace tokenizer, so counts agree across the pipeline.
  private val packBudget = 2048

  /** The p21 manifest over any `(doc_id, lang, text)` frame — factored
    * out so the spec can exercise OVERFLOW semantics on a fixture with
    * an over-budget doc (the harness corpus has none). Two overflow
    * signals a manifest consumer needs:
    *  - `pack_tokens` may exceed the budget by up to the last doc's
    *    tokens − 1: cum-binning assigns a doc to the pack its FIRST
    *    token lands in, so boundary docs spill — the documented
    *    approximation, visible directly in the column.
    *  - `n_oversize` counts docs whose n_tok alone exceeds the budget:
    *    those can NEVER fit a fixed-size buffer and must be split or
    *    truncated downstream — previously they overflowed silently. */
  private[graft] def packManifest(docs: DataFrame, budget: Int): DataFrame =
    packFromCounts(docs
      .withColumn("n_tok", size(expr(toks)).cast("long"))
      .select(col("doc_id"), col("lang"), col("n_tok")), budget)

  /** The p21 window+bin over a pre-tokenized `(doc_id, lang, n_tok)`
    * frame — split out so the ScaleSmoke skew harness can drive the
    * window pass with synthetic row volume (the tokenize step is a
    * map-only pass with no skew axis; the window is what skews). */
  private[graft] def packFromCounts(t: DataFrame, budget: Int): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
    t.withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("pack_id", floor((col("cum") - col("n_tok")) / lit(budget)))
      .groupBy(col("lang"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("pack_tokens"),
        sum(when(col("n_tok") > budget, 1L).otherwise(0L)).as("n_oversize"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("lang"), col("pack_id"))
  }

  val p21 = QuerySpec(
    "p21_sequence_pack",
    (s, d) => packManifest(documents(s, d), packBudget),
    Some(s"""WITH t AS (SELECT doc_id, lang, len($duckToks) AS n_tok FROM documents),
            |c AS (SELECT doc_id, lang, n_tok,
            |        SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id) AS cum FROM t),
            |p AS (SELECT lang, CAST(FLOOR((cum - n_tok) / $packBudget.0) AS BIGINT) AS pack_id,
            |        doc_id, n_tok FROM c)
            |SELECT lang, pack_id, COUNT(*) AS n_docs,
            |       CAST(SUM(n_tok) AS BIGINT) AS pack_tokens,
            |       CAST(SUM(CASE WHEN n_tok > $packBudget THEN 1 ELSE 0 END) AS BIGINT) AS n_oversize,
            |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
            |FROM p GROUP BY 1, 2 ORDER BY lang, pack_id""".stripMargin))

  // p21b — BOUNDED-PARTITION sequence packing: the 100 TB shape of
  // p21, previously only documented in SCALE.md. p21's window key is
  // `lang`, so one dominant language (en = 44% of this fixture) is one
  // window partition — a single-task sort at extreme scale. Here the
  // window key is (lang, shard_id) with shard_id = floor(doc_id /
  // span): a scan-level projection (no pre-pass, no rank window, no
  // driver state) that bounds every window partition at `span` docs
  // regardless of language skew, while keeping assignment
  // deterministic and order-preserving WITHIN each shard. Packs are
  // per-shard (manifest keys on shard_id), which is exactly how a
  // training-data writer shards output files anyway; the trade is
  // one potentially-underfull final pack per shard, visible in
  // `pack_tokens`.
  private val packShardSpan = 100L
  private val packShardBudget = 512

  private[graft] def packManifestSharded(docs: DataFrame, budget: Int, span: Long): DataFrame =
    packFromCountsSharded(docs
      .withColumn("n_tok", size(expr(toks)).cast("long"))
      .select(col("doc_id"), col("lang"), col("n_tok")), budget, span)

  /** Sharded counterpart of [[packFromCounts]] (see p21b). */
  private[graft] def packFromCountsSharded(t0: DataFrame, budget: Int, span: Long): DataFrame = {
    val t = t0.withColumn("shard_id", floor(col("doc_id") / lit(span)))
    val w = Window.partitionBy(col("lang"), col("shard_id")).orderBy(col("doc_id"))
    t.withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("pack_id", floor((col("cum") - col("n_tok")) / lit(budget)))
      .groupBy(col("lang"), col("shard_id"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("pack_tokens"),
        sum(when(col("n_tok") > budget, 1L).otherwise(0L)).as("n_oversize"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("lang"), col("shard_id"), col("pack_id"))
  }

  val p21b = QuerySpec(
    "p21b_sequence_pack_sharded",
    (s, d) => packManifestSharded(documents(s, d), packShardBudget, packShardSpan),
    Some(s"""WITH t AS (SELECT doc_id, lang, len($duckToks) AS n_tok,
            |            CAST(FLOOR(doc_id / $packShardSpan.0) AS BIGINT) AS shard_id
            |          FROM documents),
            |c AS (SELECT doc_id, lang, shard_id, n_tok,
            |        SUM(n_tok) OVER (PARTITION BY lang, shard_id ORDER BY doc_id) AS cum FROM t),
            |p AS (SELECT lang, shard_id,
            |        CAST(FLOOR((cum - n_tok) / $packShardBudget.0) AS BIGINT) AS pack_id,
            |        doc_id, n_tok FROM c)
            |SELECT lang, shard_id, pack_id, COUNT(*) AS n_docs,
            |       CAST(SUM(n_tok) AS BIGINT) AS pack_tokens,
            |       CAST(SUM(CASE WHEN n_tok > $packShardBudget THEN 1 ELSE 0 END) AS BIGINT) AS n_oversize,
            |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
            |FROM p GROUP BY 1, 2, 3 ORDER BY lang, shard_id, pack_id""".stripMargin))

  val p20 = kmeansSpec("p20_kmeans_train", kmK)
  /** K=80 × dim=64 = 5120 cells > kernelCellThreshold → this entry
    * runs the O(1)-plan BestCentroid kernel through the full DuckDB
    * oracle trajectory, so the large-K strategy is hash-gated, not
    * just spec-pinned. */
  val p20b = kmeansSpec("p20b_kmeans_kernel", 80)

  // p22 — TRAINED IVF end-to-end, hash-gated: p20's trained centroids
  // → inverted-list build (one KMeans.assign pass, the same scoring
  // expressions the trainer used) → per-query probe of the nprobe
  // nearest trained lists → exact rescoring of only those lists'
  // members. Completes the train→index→search story p12 tells with
  // train-free seeds; previously only recall-pinned in KMeansSpec.
  // The oracle extends the p20 trajectory prefix through the final
  // assignment + probe, so every step — centroid values, list
  // routing, probe order, rescoring — is DuckDB-hash-checked.
  // Scale shape: identical to p12 (assign is a projection against
  // plan-carried centroids, candidates are a list-equi-join pruned to
  // ~nprobe/K of the corpus); training adds p20's bounded driver state.
  /** The p22 SEARCH half over a trained model + membership table —
    * factored out so IndexStoreSpec can drive the identical plan from
    * a LOADED index (load-equals-train): probe the nprobe nearest
    * trained lists, exact-rescore only those lists' members. `e0` is
    * the raw vector frame `(vec_id, embedding)` (pass a persisted one
    * when upstream is expensive). */
  private[graft] def trainedIvfSearch(e0: DataFrame,
      model: graft.ops.KMeans.Model, lists: DataFrame): DataFrame = {
    val e = e0.withColumn("nrm", expr(VectorFns.fastNormExpr("embedding")))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
    // probe ranking: ALL K trained centroids scored per query with the
    // trainer's own cosineTo (rounded 6 dp), ranked cos DESC with the
    // cluster-index tiebreak — seedIds are ascending, so index order
    // is the oracle's cent_id order
    val scoreArr = array(model.centroids.zipWithIndex.map { case (c, j) =>
      struct(graft.ops.KMeans.cosineTo("qe", "qn", c).as("ccos"), lit(j).as("cent_id"))
    }: _*)
    val wProbe = Window.partitionBy(col("qid")).orderBy(col("ccos").desc, col("list_id"))
    val probes = q.select(col("qid"), explode(scoreArr).as("sc"))
      .select(col("qid"), col("sc.cent_id").as("list_id"), col("sc.ccos").as("ccos"))
      .withColumn("crn", row_number().over(wProbe))
      .filter(col("crn") <= ivfProbe)
      .select(col("qid"), col("list_id"))
    // no distinct(): membership rows are unique per vec_id (argmax
    // assignment / the saved index's primary key) and probes are unique
    // per (qid, list_id), so the equi-join cannot duplicate (qid,
    // vec_id) — the distinct cost a full extra Exchange (guide §2.4)
    val cand = lists.join(broadcast(probes), "list_id")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"))
    val pairs = cand
      .join(e, "vec_id")
      .join(broadcast(q), "qid")
      .withColumn("cos",
        round(expr(VectorFns.fastDotExpr("embedding", "qe")) / (col("nrm") * col("qn")), 6))
    val wTop = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    pairs.withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("rn"), col("vec_id").as("cid"), col("cos").as("cosine"))
      .orderBy(col("qid"), col("rn"))
  }

  /** The p22 DuckDB oracle (train trajectory → assignment → probe →
    * exact rescore) — shared by p22 and p52 (the index round-trip gate
    * serves the IDENTICAL results from loaded artifacts, so the same
    * SQL is its oracle). */
  private def duckTrainedIvfSql: String =
    s"""${duckKmeansPrefix(kmK)},
            |cnF AS (SELECT cent_id, SQRT(SUM(v*v)) AS cnrm FROM c$kmIters GROUP BY 1),
            |scF AS (SELECT f.vec_id, c.cent_id, SUM(f.v * c.v) AS dot
            |        FROM f JOIN c$kmIters c ON c.i = f.i GROUP BY 1, 2),
            |rkF AS (SELECT s.vec_id, s.cent_id, ROW_NUMBER() OVER
            |          (PARTITION BY s.vec_id
            |           ORDER BY ROUND(s.dot / (n.nrm * cn.cnrm), 6) DESC, s.cent_id) AS crn
            |        FROM scF s JOIN n ON n.vec_id = s.vec_id
            |                    JOIN cnF cn ON cn.cent_id = s.cent_id),
            |asgF AS (SELECT vec_id, cent_id AS list_id FROM rkF WHERE crn = 1),
            |probe AS (SELECT vec_id AS qid, cent_id AS list_id FROM rkF
            |          WHERE vec_id < 5 AND crn <= $ivfProbe),
            |cand AS (SELECT DISTINCT p.qid, a.vec_id AS cid
            |         FROM probe p JOIN asgF a ON a.list_id = p.list_id AND a.vec_id <> p.qid),
            |pd AS (SELECT cand.qid, cand.cid, SUM(x.v * y.v) AS dot
            |       FROM cand JOIN f x ON x.vec_id = cand.qid
            |                 JOIN f y ON y.vec_id = cand.cid AND y.i = x.i
            |       GROUP BY 1, 2),
            |pc AS (SELECT qid, cid, dot / (na.nrm * nb.nrm) AS cos
            |       FROM pd JOIN n na ON na.vec_id = qid JOIN n nb ON nb.vec_id = cid),
            |r AS (SELECT qid, cid, cos, ROW_NUMBER() OVER
            |        (PARTITION BY qid ORDER BY ROUND(cos, 6) DESC, cid) AS rn FROM pc)
            |SELECT qid, CAST(rn AS INTEGER) AS rn, cid, ROUND(cos, 6) AS cosine
            |FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin

  val p22 = QuerySpec(
    "p22_ann_ivf_trained",
    (s, d) => {
      graft.expressions.VectorExpressions.register(s)
      val e0 = embeddings(s, d).select(col("vec_id"), col("embedding"))
        .persist() // reused: training scans (×iters), list build, rescoring
      // forceKernel: the strategies are bit-identical (fuzz-pinned), and
      // at this corpus size the expanded plan's per-iteration janino
      // compile of a K·dim-wide projection dominates — p20 keeps gating
      // the expanded strategy; p22's job is the end-to-end search
      val model = graft.ops.KMeans.fit(e0, "vec_id", "embedding", kmK, kmIters,
        forceKernel = true)
      // no persist (r22): the membership frame has exactly ONE consumer
      // (the candidate equi-join — the r21 distinct removal deleted the
      // second) and e0 is already cached, so caching the projection
      // again was a corpus-sized cache write for nothing (guide §5)
      val lists = graft.ops.KMeans.assign(e0, "embedding", model, forceKernel = true)
        .select(col("vec_id"), col("cluster").as("list_id"))
      trainedIvfSearch(e0, model, lists)
    },
    Some(duckTrainedIvfSql))

  // p52 — PERSISTENT-INDEX ROUND-TRIP under the driver's own hash
  // (B.7, added r20): train the IVF quantizer, SAVE the model and the
  // list_id-partitioned membership table through graft.ops.IndexStore,
  // then serve the search ENTIRELY from the LOADED artifacts — the
  // train-once/serve-many boundary a production retrieval service
  // lives on, gated end-to-end instead of only spec-pinned
  // (IndexStoreSpec pins bit-equality; this row puts load-equals-train
  // in CORRECTNESS_r*.json). The oracle is p22's verbatim: a correct
  // store is INVISIBLE in the results, so the same SQL hashes both.
  // Scale shape: p22's plus one bounded artifact write/read (K rows +
  // K×dim doubles + the membership table, whose probe reads are
  // partition-pruned by list — the IndexStoreSpec pin).
  val p52 = QuerySpec(
    "p52_ann_index_roundtrip",
    (s, d) => {
      graft.expressions.VectorExpressions.register(s)
      val e0 = embeddings(s, d).select(col("vec_id"), col("embedding"))
        .persist() // training scans (×iters), list build, rescoring
      val model = graft.ops.KMeans.fit(e0, "vec_id", "embedding", kmK, kmIters,
        forceKernel = true)
      val lists = graft.ops.KMeans.assign(e0, "embedding", model, forceKernel = true)
        .select(col("vec_id"), col("cluster").as("list_id"))
      // deterministic per-(process, dataset) temp root, rewritten in
      // place by save()'s overwrite: repeated gate/bench invocations in
      // one JVM reuse one tree instead of leaking a directory per run,
      // while the pid token + full sanitized path keep two concurrent
      // JVMs (or distinct datasets with colliding hashCodes) from
      // racing save/load on the same tree (r21, ADVICE)
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_p52_idx_" +
        ProcessHandle.current().pid() + "_" +
        d.replaceAll("[^A-Za-z0-9._-]", "_")
      graft.ops.IndexStore.saveKMeans(s, model, s"$root/model")
      graft.ops.IndexStore.saveMembership(lists, s"$root/lists", kmK)
      // the serving run: every routing artifact comes off disk
      val lm = graft.ops.IndexStore.loadKMeans(s, s"$root/model")
      val (ll, k) = graft.ops.IndexStore.loadMembership(s, s"$root/lists")
      require(k == kmK, s"[graft] p52 reloaded k=$k, trained $kmK")
      trainedIvfSearch(e0, lm, ll)
    },
    Some(duckTrainedIvfSql))

  // p23 — int8 SCALAR QUANTIZATION of the embedding corpus + quantized
  // coarse top-k + exact rescore (B.7, added r16): the memory-bandwidth
  // half of a production ANN stack (IVF/LSH prune candidates; int8
  // shrinks every vector touched 4×). Per-dimension min/max from ONE
  // partial-aggregated pass (shuffle carries tasks×dim partials, never
  // the corpus); codes are a map-only projection; coarse scoring runs
  // on the RECONSTRUCTED values (mn_i + code_i·scale_i — so the oracle
  // can replay the arithmetic bit-for-bit), keeps the top 2k per query,
  // and only those survivors pay the exact float_dot rescore. floor(x
  // + 0.5) quantization instead of round(): HALF_UP vs banker's
  // ambiguity never enters the gate. At 100 TB this composes with
  // p12/p22: probe the IVF lists, score them int8, rescore the top-k
  // exact — each stage cuts the candidate set for the next.
  val p23 = QuerySpec(
    "p23_quantized_topk",
    (s, d) => {
      graft.expressions.VectorExpressions.register(s)
      val e = embeddings(s, d).select(col("vec_id"), col("embedding"),
        expr(VectorFns.fastNormExpr("embedding")).as("nrm")).persist()
      val stats = e.select(posexplode(col("embedding"))).toDF("i", "v")
        .groupBy(col("i"))
        .agg(min(col("v").cast("double")).as("mn"), max(col("v").cast("double")).as("mx"))
        .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      val dim = stats.size
      val mn = Array.tabulate(dim)(i => stats(i)._1)
      val sc = Array.tabulate(dim)(i => (stats(i)._2 - stats(i)._1) / 255.0)
      // reconstructed (de-quantized) vector, literal-expanded per dim —
      // a constant-range dimension reconstructs to its constant
      def recon(vc: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        array((0 until dim).map { i =>
        if (sc(i) == 0.0) lit(mn(i))
        else lit(mn(i)) +
          floor((vc.getItem(i).cast("double") - lit(mn(i))) / lit(sc(i)) + lit(0.5)) * lit(sc(i))
      }: _*)
      val dotRv = "aggregate(zip_with(rv, qrv, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
      val selfRv = "aggregate(zip_with(rv, rv, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
      val enc = e.withColumn("rv", recon(col("embedding")))
        .withColumn("rnrm", sqrt(expr(selfRv)))
      val qs = enc.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"),
          col("rv").as("qrv"), col("rnrm").as("qrnrm"))
      val scored = enc.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("acos_", round(expr(dotRv) / (col("rnrm") * col("qrnrm")), 6))
      val wA = Window.partitionBy(col("qid")).orderBy(col("acos_").desc, col("vec_id"))
      val cand = scored.withColumn("arn", row_number().over(wA)).filter(col("arn") <= 6)
      val exact = cand.withColumn("cos",
        round(expr(VectorFns.fastDotExpr("embedding", "qe")) / (col("nrm") * col("qn")), 6))
      val wT = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
      exact.withColumn("rn", row_number().over(wT)).filter(col("rn") <= 3)
        .select(col("qid"), col("rn"), col("vec_id").as("cid"), col("cos").as("cosine"))
        .orderBy(col("qid"), col("rn"))
    },
    Some("""WITH f AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
           |             CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
           |st AS (SELECT i, MIN(v) AS mn, (MAX(v) - MIN(v)) / 255.0 AS sc FROM f GROUP BY i),
           |r AS (SELECT f.vec_id, f.i, f.v,
           |        CASE WHEN st.sc = 0 THEN st.mn
           |             ELSE st.mn + FLOOR((f.v - st.mn) / st.sc + 0.5) * st.sc END AS rv
           |      FROM f JOIN st ON st.i = f.i),
           |rn_ AS (SELECT vec_id, SQRT(SUM(rv*rv)) AS rnrm FROM r GROUP BY 1),
           |q AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id < 5),
           |ad AS (SELECT q.qid, c.vec_id AS cid, SUM(cq.rv * c.rv) AS dot
           |       FROM q JOIN r cq ON cq.vec_id = q.qid
           |              JOIN r c ON c.i = cq.i AND c.vec_id <> q.qid
           |       GROUP BY 1, 2),
           |ac AS (SELECT qid, cid, ad.dot / (nq.rnrm * nc.rnrm) AS acos_
           |       FROM ad JOIN rn_ nq ON nq.vec_id = qid JOIN rn_ nc ON nc.vec_id = cid),
           |cand AS (SELECT qid, cid FROM (
           |           SELECT qid, cid, ROW_NUMBER() OVER
           |             (PARTITION BY qid ORDER BY ROUND(acos_, 6) DESC, cid) AS arn FROM ac)
           |         WHERE arn <= 6),
           |pd AS (SELECT cand.qid, cand.cid, SUM(x.v * y.v) AS dot
           |       FROM cand JOIN f x ON x.vec_id = cand.qid
           |                 JOIN f y ON y.vec_id = cand.cid AND y.i = x.i
           |       GROUP BY 1, 2),
           |n AS (SELECT vec_id, SQRT(SUM(v*v)) AS nrm FROM f GROUP BY 1),
           |pc AS (SELECT qid, cid, dot / (na.nrm * nb.nrm) AS cos
           |       FROM pd JOIN n na ON na.vec_id = qid JOIN n nb ON nb.vec_id = cid),
           |rr AS (SELECT qid, cid, cos, ROW_NUMBER() OVER
           |         (PARTITION BY qid ORDER BY ROUND(cos, 6) DESC, cid) AS rn2 FROM pc)
           |SELECT qid, CAST(rn2 AS INTEGER) AS rn, cid, ROUND(cos, 6) AS cosine
           |FROM rr WHERE rn2 <= 3 ORDER BY qid, rn""".stripMargin))

  // p24 — PRODUCT QUANTIZATION + ADC scan (B.7, added r16): the third
  // leg of the production ANN stack. p23 compresses each dimension
  // independently (scalar int8); PQ compresses SUB-VECTORS — the
  // 64-dim corpus splits into M=16 subspaces of 4 dims, each encoded
  // as the argmax-scoring entry of a 16-entry per-subspace codebook,
  // so a vector is M=16 bytes (16× smaller than float32). Subspace
  // width is an accuracy dial measured before committing: on this
  // corpus (synthetic near-uniform embeddings, the PQ worst case)
  // 8-dim subspaces push the true top-1's coarse rank to ~60 while
  // 4-dim keeps it ≤18 — narrower subspaces quantize unstructured
  // data far better, the classic PQ M-vs-distortion trade. Codebooks
  // here are train-free (sub-slices of the first 16 vectors — the p12
  // seeding convention, keeping the oracle a pure SQL replay);
  // swapping in per-subspace `KMeans.fit` centroids is the same
  // encode/scan plan with trained literals (the train path is already
  // hash-gated by p20/p22, and training buys little on data this
  // unstructured — measured +2× rank at best). Scoring is ASYMMETRIC
  // distance computation (ADC): the query stays exact float, the
  // corpus side is reconstructed from codebook entries — encode is a
  // map-only literal-expanded projection (codebook rides the plan:
  // M·K'·d/M = 1024 doubles), the coarse scan is map-only over
  // broadcast queries, and only the top-2k survivors (rescore pool 32,
  // a fixed constant independent of corpus size — the production
  // recall dial) pay the exact rescore. Encode argmax uses
  // score_j = round(dot(v_m, c_j) − ||c_j||²/2, 6) (the monotone
  // L2-argmin equivalent: term-order-robust under rounding, same
  // 6-dp discipline as the p20 trajectory), tie → lower code.
  // At 100 TB: codes replace the corpus in cache/scan (M bytes/vec),
  // composing with p22's list pruning and p23's int8 — prune with IVF,
  // scan candidates as PQ codes, rescore the survivors exact.
  private val pqM = 16
  private val pqSub = 4
  private val pqK = 16
  private val pqPool = 32

  /** Codebook from the first pqK seed vectors of
    * `e(vec_id, embedding, …)`, engine-rounded to 6 dp (Spark round ==
    * DuckDB ROUND on doubles, the p20 precedent) — bounded driver
    * state, K'×dim doubles, same class as KMeans centroids.
    * Shape: cb(m)(j)(t) = subspace m, code j, in-subspace dim t. */
  private[graft] def pqCodebook(e: DataFrame): Array[Array[Array[Double]]] = {
    val cbRows = e.orderBy(col("vec_id")).limit(pqK)
      .select(expr("transform(embedding, x -> round(CAST(x AS DOUBLE), 6))"))
      .collect()
    require(cbRows.length == pqK, s"p24 codebook needs $pqK seed vectors")
    Array.tabulate(pqM, pqK, pqSub)((m, j, t) => cbRows(j).getSeq[Double](0)(m * pqSub + t))
  }

  /** Literal-expanded PQ encode over an `embedding` column — O(K'·d)
    * expression nodes, the small-codebook strategy. Kept as the parity
    * witness for the O(1)-plan `PqEncode` kernel (PipelineSpec pins
    * row-for-row code equality on the full fixture corpus), the same
    * dual-strategy discipline as the k-means argmax. Returns
    * `array<int>` of the M codes. */
  private[graft] def pqCodesExpanded(cb: Array[Array[Array[Double]]]): org.apache.spark.sql.Column = {
    val (m_, k_, s_) = (cb.length, cb.head.length, cb.head.head.length)
    val cc = Array.tabulate(m_, k_)((m, j) => (0 until s_).map(t => cb(m)(j)(t) * cb(m)(j)(t)).sum)
    val codes = (0 until m_).map { m =>
      val scores = array((0 until k_).map { j =>
        val dot = (0 until s_).map(t =>
          col("embedding").getItem(m * s_ + t).cast("double") * lit(cb(m)(j)(t)))
          .reduce(_ + _)
        struct(round(dot - lit(0.5 * cc(m)(j)), 6).as("s"), lit(-j).as("nj"))
      }: _*)
      array_max(scores).getField("nj") * lit(-1)
    }
    array(codes: _*)
  }

  val p24 = QuerySpec(
    "p24_pq_adc",
    (s, d) => {
      graft.expressions.VectorExpressions.register(s)
      val e = embeddings(s, d).select(col("vec_id"), col("embedding"),
        expr(VectorFns.fastNormExpr("embedding")).as("nrm")).persist()
      val cb = pqCodebook(e)
      val enc = pqEncodeReconstruct(s, e, cb)
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
      // ADC: exact query against reconstructed corpus
      val dotA = "aggregate(zip_with(qe, rv, (x, y) -> CAST(x AS DOUBLE) * y), 0D, (acc, x) -> acc + x)"
      val scored = enc.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("acos_", round(expr(dotA) / (col("qn") * col("rnrm")), 6))
      val wA = Window.partitionBy(col("qid")).orderBy(col("acos_").desc, col("vec_id"))
      val cand = scored.withColumn("arn", row_number().over(wA)).filter(col("arn") <= pqPool)
      val exact = cand.withColumn("cos",
        round(expr(VectorFns.fastDotExpr("embedding", "qe")) / (col("nrm") * col("qn")), 6))
      val wT = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
      exact.withColumn("rn", row_number().over(wT)).filter(col("rn") <= 3)
        .select(col("qid"), col("rn"), col("vec_id").as("cid"), col("cos").as("cosine"))
        .orderBy(col("qid"), col("rn"))
    },
    Some(s"""WITH f AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
            |             CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
            |n AS (SELECT vec_id, SQRT(SUM(v*v)) AS nrm FROM f GROUP BY 1),
            |seeds AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j
            |          FROM embeddings ORDER BY vec_id LIMIT $pqK),
            |cb AS (SELECT s.j, CAST(FLOOR(f.i / $pqSub) AS BIGINT) AS m, f.i % $pqSub AS t,
            |               ROUND(f.v, 6) AS cv
            |        FROM f JOIN seeds s ON f.vec_id = s.vec_id),
            |ccn AS (SELECT m, j, SUM(cv*cv) AS cc FROM cb GROUP BY 1, 2),
            |sc AS (SELECT f.vec_id, cb.m, cb.j, SUM(f.v * cb.cv) AS dot
            |       FROM f JOIN cb ON cb.m = CAST(FLOOR(f.i / $pqSub) AS BIGINT)
            |                     AND cb.t = f.i % $pqSub
            |       GROUP BY 1, 2, 3),
            |rk AS (SELECT s.vec_id, s.m, s.j, ROW_NUMBER() OVER
            |         (PARTITION BY s.vec_id, s.m
            |          ORDER BY ROUND(s.dot - 0.5 * c.cc, 6) DESC, s.j) AS jr
            |       FROM sc s JOIN ccn c ON c.m = s.m AND c.j = s.j),
            |code AS (SELECT vec_id, m, j FROM rk WHERE jr = 1),
            |r AS (SELECT code.vec_id, cb.m * $pqSub + cb.t AS i, cb.cv AS rv
            |      FROM code JOIN cb ON cb.m = code.m AND cb.j = code.j),
            |rn_ AS (SELECT vec_id, SQRT(SUM(rv*rv)) AS rnrm FROM r GROUP BY 1),
            |q AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id < 5),
            |ad AS (SELECT q.qid, r.vec_id AS cid, SUM(fq.v * r.rv) AS dot
            |       FROM q JOIN f fq ON fq.vec_id = q.qid
            |              JOIN r ON r.i = fq.i AND r.vec_id <> q.qid
            |       GROUP BY 1, 2),
            |ac AS (SELECT qid, cid, ad.dot / (nq.nrm * nc.rnrm) AS acos_
            |       FROM ad JOIN n nq ON nq.vec_id = qid JOIN rn_ nc ON nc.vec_id = cid),
            |cand AS (SELECT qid, cid FROM (
            |           SELECT qid, cid, ROW_NUMBER() OVER
            |             (PARTITION BY qid ORDER BY ROUND(acos_, 6) DESC, cid) AS arn FROM ac)
            |         WHERE arn <= $pqPool),
            |pd AS (SELECT cand.qid, cand.cid, SUM(x.v * y.v) AS dot
            |       FROM cand JOIN f x ON x.vec_id = cand.qid
            |                 JOIN f y ON y.vec_id = cand.cid AND y.i = x.i
            |       GROUP BY 1, 2),
            |pc AS (SELECT qid, cid, dot / (na.nrm * nb.nrm) AS cos
            |       FROM pd JOIN n na ON na.vec_id = qid JOIN n nb ON nb.vec_id = cid),
            |rr AS (SELECT qid, cid, cos, ROW_NUMBER() OVER
            |         (PARTITION BY qid ORDER BY ROUND(cos, 6) DESC, cid) AS rn2 FROM pc)
            |SELECT qid, CAST(rn2 AS INTEGER) AS rn, cid, ROUND(cos, 6) AS cosine
            |FROM rr WHERE rn2 <= 3 ORDER BY qid, rn""".stripMargin))

  // p25 — EXACT duplicated-span mining (the substring-level dedup
  // signal of Lee et al. 2022, "Deduplicating Training Data Makes
  // Language Models Better"): token 5-gram spans that recur across
  // DISTINCT documents, ranked by document reach. Complements the
  // doc-level dedup family (p5–p8 hash whole documents; this finds
  // the shared passages inside otherwise-distinct docs — boilerplate,
  // licenses, templates — which doc-level MinHash can never surface).
  // Shape: the span explode fans out inside the scan task (generator,
  // no pre-shuffle), then ONE shuffle keyed by span with map-side
  // partial aggregation; top-k is TakeOrderedAndProject (never a
  // global sort). At 100 TB the shuffle key becomes the 64-bit span
  // hash (md5IntScalarExpr) instead of the string — same plan, ~10×
  // less shuffle volume; the gate keys on strings so the oracle rows
  // stay human-readable.
  private val dupSpanN = 5

  val p25 = QuerySpec(
    "p25_dup_ngram_spans",
    (s, d) =>
      documents(s, d)
        .withColumn("toks", expr(toks))
        .select(col("doc_id"), explode(expr(TextFns.shinglesExpr("toks", dupSpanN))).as("span"))
        .groupBy(col("span"))
        .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occ"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n_docs").desc, col("n_occ").desc, col("span"))
        .limit(25),
    Some {
      val parts = (1 to dupSpanN).map(k => s"toks[i+$k]").mkString(" || ' ' || ")
      s"""WITH base AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |sh AS (SELECT doc_id,
         |         UNNEST(list_transform(range(greatest(len(toks)-${dupSpanN - 1}, 0)),
         |                               i -> $parts)) AS span
         |       FROM base),
         |g AS (SELECT span, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ
         |      FROM sh GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2)
         |SELECT span, n_docs, CAST(n_occ AS BIGINT) AS n_occ
         |FROM g ORDER BY n_docs DESC, n_occ DESC, span LIMIT 25""".stripMargin
    })

  // p26 — deterministic CORPUS MIXING (domain-weight resampling): the
  // upsample counterpart of p17's downsampling, and the op that turns
  // a curated corpus into a training mix ("see domain X w times per
  // epoch"). Each language carries a target weight w: every doc
  // replicates floor(w) times, plus once more for the md5-bucket
  // fraction frac(w) of docs — E[copies] = w exactly, decided
  // content-independently per doc_id (no RNG state: the same doc gets
  // the same copy count on any cluster, any partitioning, any rerun,
  // the property a reproducible training run needs). w < 1
  // downsamples (copies = 0 drops the doc). The mixed corpus
  // materializes through one map-only generator explode (epoch index
  // per copy) — no shuffle until the manifest aggregation, and at
  // 100 TB the explode fans out INSIDE the scan task (q44's generator
  // shape) so the mixed corpus streams to the writer without ever
  // materializing centrally. Bucket convention shared with p17.
  private val mixWeights: Seq[(String, Double)] =
    Seq("de" -> 2.5, "en" -> 0.25, "es" -> 1.0, "fr" -> 2.0, "zh" -> 1.5)

  val p26 = QuerySpec(
    "p26_domain_mix",
    (s, d) => {
      val floorW = mixWeights.map { case (l, w) => l -> math.floor(w).toLong }
      val thrW = mixWeights.map { case (l, w) => l -> math.round((w - math.floor(w)) * 1000.0) }
      def chained(vals: Seq[(String, Long)]): org.apache.spark.sql.Column =
        vals.tail.foldLeft(when(col("lang") === vals.head._1, vals.head._2)) {
          case (acc, (l, v)) => acc.when(col("lang") === l, v)
        }.otherwise(lit(0L))
      val bucket = expr(s"${TextFns.md5IntScalarExpr("CAST(doc_id AS STRING)")} % 1000")
      val base = documents(s, d)
        .withColumn("n_tok", size(expr(toks)).cast("long"))
        .select(col("doc_id"), col("lang"), col("n_tok"))
        .withColumn("copies",
          chained(floorW) + when(bucket < chained(thrW), 1L).otherwise(0L))
      val inAgg = base.groupBy(col("lang"))
        .agg(count(lit(1)).as("docs_in"), sum(col("n_tok")).as("tokens_in"))
      val mixed = base.filter(col("copies") > 0)
        .withColumn("epoch", explode(expr("sequence(CAST(1 AS BIGINT), copies)")))
      val outAgg = mixed.groupBy(col("lang"))
        .agg(countDistinct(col("doc_id")).as("docs_kept"),
          count(lit(1)).as("rows_out"),
          sum(col("n_tok")).as("tokens_out"),
          max(col("epoch")).as("max_epoch"))
      inAgg.join(outAgg, Seq("lang"), "left")
        .na.fill(0L, Seq("docs_kept", "rows_out", "tokens_out", "max_epoch"))
        .withColumn("achieved_weight",
          round(col("rows_out").cast("double") / col("docs_in"), 6))
        .orderBy(col("lang"))
    },
    Some {
      val duckWeights = mixWeights.map { case (l, w) =>
        s"('$l', ${math.floor(w).toLong}, ${math.round((w - math.floor(w)) * 1000.0)})"
      }.mkString(", ")
      s"""WITH t AS (SELECT doc_id, lang, len($duckToks) AS n_tok,
         |        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
         |          % ${TextFns.minhashP} % 1000 AS bucket
         |      FROM documents),
         |w AS (SELECT * FROM (VALUES $duckWeights) AS v(lang, fl, thr)),
         |b AS (SELECT t.*, w.fl + CASE WHEN t.bucket < w.thr THEN 1 ELSE 0 END AS copies
         |      FROM t JOIN w ON w.lang = t.lang),
         |i AS (SELECT lang, COUNT(*) AS docs_in, CAST(SUM(n_tok) AS BIGINT) AS tokens_in
         |      FROM b GROUP BY 1),
         |m AS (SELECT lang, doc_id, n_tok,
         |        UNNEST(generate_series(CAST(1 AS BIGINT), CAST(copies AS BIGINT))) AS epoch
         |      FROM b WHERE copies > 0),
         |o AS (SELECT lang, COUNT(DISTINCT doc_id) AS docs_kept, COUNT(*) AS rows_out,
         |        CAST(SUM(n_tok) AS BIGINT) AS tokens_out, MAX(epoch) AS max_epoch
         |      FROM m GROUP BY 1)
         |SELECT i.lang, i.docs_in, i.tokens_in,
         |       COALESCE(o.docs_kept, 0) AS docs_kept,
         |       COALESCE(o.rows_out, 0) AS rows_out,
         |       COALESCE(o.tokens_out, 0) AS tokens_out,
         |       COALESCE(o.max_epoch, 0) AS max_epoch,
         |       ROUND(CAST(COALESCE(o.rows_out, 0) AS DOUBLE) / i.docs_in, 6) AS achieved_weight
         |FROM i LEFT JOIN o ON o.lang = i.lang ORDER BY i.lang""".stripMargin
    })

  // p27 — BM25 document ranking (Robertson/Spärck Jones; the Lucene
  // idf variant ln(1 + (N-df+0.5)/(df+0.5))): the retrieval scorer a
  // curation pipeline uses to mine topical subsets ("find the docs
  // about X") and the quality-classifier feature tf-idf (q17) doesn't
  // length-normalize. Scale shape: the term IN-filter lands INSIDE the
  // explode's output before any shuffle — the shuffle carries only
  // query-term postings, a |terms|/|vocab| sliver of the corpus; df
  // (≤|terms| rows) and the corpus stats (1 row) broadcast; the final
  // top-k is TakeOrderedAndProject. Determinism: per-(doc,term)
  // weights sum in FIXED literal term order (one CASE-sum per term —
  // each is a single row, so no float-order freedom), rounded 6 dp.
  private val bm25Terms = Seq("dup", "spark", "stream")
  private val bm25K1 = 1.2
  private val bm25B = 0.75

  /** p27's BM25 scoring over the en corpus — `(doc_id, bm25,
    * n_terms_hit)`, unranked. Shared verbatim by the p27 gate (top-15
    * cut) and p49's lexical arm, so hybrid fusion can't drift from
    * the scorer it fuses. */
  private[graft] def bm25Scores(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).filter(col("lang") === "en")
      .withColumn("toks", expr(toks))
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("double").as("dl"))
    val stats = docs.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(bm25Terms: _*))
      .groupBy(col("doc_id"), col("term"), col("dl"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dft = tf.groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
    val w = tf.join(broadcast(dft), "term").crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("w",
        col("idf") * (col("tf") * lit(bm25K1 + 1.0)) /
          (col("tf") + lit(bm25K1) * (lit(1.0 - bm25B) + lit(bm25B) * col("dl") / col("avgdl"))))
    val termSum = bm25Terms.map(t =>
      coalesce(sum(when(col("term") === t, col("w"))), lit(0.0)))
      .reduce(_ + _)
    w.groupBy(col("doc_id"))
      .agg(round(termSum, 6).as("bm25"), count(lit(1)).as("n_terms_hit"))
  }

  /** DuckDB rendering of [[bm25Scores]], ending in
    * `bm(doc_id, bm25, n_terms_hit)`. */
  private def duckBm25Ctes: String = {
    val inList = bm25Terms.map(t => s"'$t'").mkString(", ")
    val caseSum = bm25Terms.map(t =>
      s"COALESCE(SUM(CASE WHEN term = '$t' THEN w END), 0.0)").mkString(" + ")
    s"""base AS (SELECT doc_id, $duckToks AS toks FROM documents WHERE lang = 'en'),
       |d AS (SELECT doc_id, toks, CAST(len(toks) AS DOUBLE) AS dl FROM base),
       |stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM d),
       |post AS (SELECT doc_id, dl, unnest(toks) AS term FROM d),
       |tf AS (SELECT doc_id, term, dl, CAST(COUNT(*) AS DOUBLE) AS tf
       |       FROM post WHERE term IN ($inList) GROUP BY 1, 2, 3),
       |dft AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
       |w AS (SELECT tf.doc_id, tf.term,
       |        LN(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
       |          (tf * ${bm25K1 + 1.0}) /
       |          (tf + $bm25K1 * (1.0 - $bm25B + $bm25B * tf.dl / avgdl)) AS w
       |      FROM tf JOIN dft ON dft.term = tf.term CROSS JOIN stats),
       |bm AS (SELECT doc_id, ROUND($caseSum, 6) AS bm25, COUNT(*) AS n_terms_hit
       |       FROM w GROUP BY doc_id)""".stripMargin
  }

  val p27 = QuerySpec(
    "p27_bm25_rank",
    (s, d) => bm25Scores(s, d)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(15),
    Some(s"""WITH $duckBm25Ctes
            |SELECT doc_id, bm25, n_terms_hit FROM bm
            |ORDER BY bm25 DESC, doc_id LIMIT 15""".stripMargin))

  // p28 — SemDeDup (Abbas et al. 2023, arXiv:2303.09540): SEMANTIC
  // deduplication — cluster the embedding corpus with the trained
  // coarse quantizer (p20's k-means), then drop, within each cluster,
  // every vector that has a lower-id cluster-mate above the cosine
  // threshold. The quadratic pair scan is confined WITHIN clusters —
  // the paper's core trick and the 100 TB shape: K grows with the
  // corpus so cluster size stays bounded (the documented dial), the
  // self-join is an equi-join on cluster id, and the corpus-wide
  // all-pairs never materializes. Deterministic keeper rule (lowest
  // vec_id dominates) instead of the paper's random keeper, so any
  // cluster/partitioning/rerun keeps the same rows. The oracle extends
  // the p20 trajectory prefix through final assignment, the
  // within-cluster pair scan, and the removal rule — the full
  // train→cluster→dedup path is hash-gated. Threshold 0.35 is
  // fixture-calibrated (the synthetic corpus is near-uniform, max
  // pairwise cos ≈ 0.5–0.6; production embeddings use ~0.95+).
  private val semdedupTau = 0.35

  val p28 = QuerySpec(
    "p28_semdedup",
    (s, d) => {
      graft.expressions.VectorExpressions.register(s)
      val e0 = embeddings(s, d).select(col("vec_id"), col("embedding"))
        .persist() // reused: training scans (×iters) + the assign pass
      val model = graft.ops.KMeans.fit(e0, "vec_id", "embedding", kmK, kmIters,
        forceKernel = true)
      // cluster index j → seed vec_id: seedIds are ascending, so this
      // relabel makes Spark's cluster ids the oracle's cent_id values
      val seedArr = array(model.seedIds.map(lit): _*)
      val asg = graft.ops.KMeans.assign(e0, "embedding", model, forceKernel = true)
        .select(col("vec_id"), col("embedding"),
          element_at(seedArr, col("cluster") + 1).as("cluster_id"),
          expr(VectorFns.fastNormExpr("embedding")).as("nrm"))
        .persist() // scanned thrice: both sides of the pair join + stats
      // e0 stays cached until the harness's clearCache (p22 convention):
      // asg materializes lazily and rereads it once for the assign scan
      val a = asg.select(col("cluster_id"), col("vec_id").as("va"),
        col("embedding").as("ea"), col("nrm").as("na"))
      val b = asg.select(col("cluster_id"), col("vec_id").as("vb"),
        col("embedding").as("eb"), col("nrm").as("nb"))
      val removed = a.join(b, Seq("cluster_id"))
        .filter(col("va") < col("vb"))
        .withColumn("cos",
          round(expr(VectorFns.fastDotExpr("ea", "eb")) / (col("na") * col("nb")), 6))
        .filter(col("cos") >= semdedupTau)
        .select(col("cluster_id"), col("vb")).distinct()
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_removed"))
      asg.groupBy(col("cluster_id")).agg(count(lit(1)).as("n_members"))
        .join(removed, Seq("cluster_id"), "left")
        .na.fill(0L, Seq("n_removed"))
        .withColumn("n_kept", col("n_members") - col("n_removed"))
        .orderBy(col("cluster_id"))
    },
    Some(s"""${duckKmeansPrefix(kmK)},
            |cnF AS (SELECT cent_id, SQRT(SUM(v*v)) AS cnrm FROM c$kmIters GROUP BY 1),
            |scF AS (SELECT f.vec_id, c.cent_id, SUM(f.v * c.v) AS dot
            |        FROM f JOIN c$kmIters c ON c.i = f.i GROUP BY 1, 2),
            |rkF AS (SELECT s.vec_id, s.cent_id, ROW_NUMBER() OVER
            |          (PARTITION BY s.vec_id
            |           ORDER BY ROUND(s.dot / (n.nrm * cn.cnrm), 6) DESC, s.cent_id) AS crn
            |        FROM scF s JOIN n ON n.vec_id = s.vec_id
            |                    JOIN cnF cn ON cn.cent_id = s.cent_id),
            |asgF AS (SELECT vec_id, cent_id AS cluster_id FROM rkF WHERE crn = 1),
            |pr AS (SELECT x.cluster_id, x.vec_id AS va, y.vec_id AS vb
            |       FROM asgF x JOIN asgF y
            |         ON y.cluster_id = x.cluster_id AND x.vec_id < y.vec_id),
            |pd AS (SELECT pr.cluster_id, pr.va, pr.vb, SUM(a.v * b.v) AS dot
            |       FROM pr JOIN f a ON a.vec_id = pr.va
            |               JOIN f b ON b.vec_id = pr.vb AND b.i = a.i
            |       GROUP BY 1, 2, 3),
            |pc AS (SELECT pd.cluster_id, pd.vb,
            |         ROUND(pd.dot / (na.nrm * nb.nrm), 6) AS cos
            |       FROM pd JOIN n na ON na.vec_id = pd.va
            |               JOIN n nb ON nb.vec_id = pd.vb),
            |rem AS (SELECT cluster_id, COUNT(DISTINCT vb) AS n_removed
            |        FROM pc WHERE cos >= $semdedupTau GROUP BY 1),
            |mem AS (SELECT cluster_id, COUNT(*) AS n_members FROM asgF GROUP BY 1)
            |SELECT mem.cluster_id, mem.n_members,
            |       COALESCE(rem.n_removed, 0) AS n_removed,
            |       mem.n_members - COALESCE(rem.n_removed, 0) AS n_kept
            |FROM mem LEFT JOIN rem ON rem.cluster_id = mem.cluster_id
            |ORDER BY mem.cluster_id""".stripMargin))

  // p29 — PMI bigram mining (pointwise mutual information over
  // adjacent token pairs): the phrase/collocation miner a tokenizer-
  // training or n-gram-merge pipeline runs over the corpus ("which
  // token pairs cohere enough to fuse"). Shape: pair explode fans out
  // inside the scan task (struct generator, no pre-shuffle), ONE
  // pair-keyed shuffle with map-side partial agg; the unigram table is
  // vocabulary-sized (≪ corpus — ~1M entries at web scale) and
  // BROADCASTS to both join sides; corpus totals are 1 broadcast row;
  // top-k is TakeOrderedAndProject. PMI is computed in one double
  // expression — ln((c_xy·Nu·Nu)/(Nb·c_x·c_y)) — identically phrased
  // in both engines, rounded 6 dp (q17's ln convention).
  private val pmiMinPair = 5

  val p29 = QuerySpec(
    "p29_pmi_bigrams",
    (s, d) => {
      val t = documents(s, d).filter(col("lang") === "en")
        .withColumn("toks", expr(toks))
      // CASE-guard (shinglesExpr's convention): sequence(1, 0) would
      // DESCEND, indexing toks[-1] — ANSI-fatal on 1-token docs
      val pairs = t.select(explode(expr(
        """CASE WHEN size(toks) >= 2
          |     THEN transform(sequence(1, size(toks) - 1),
          |                    i -> struct(toks[i-1] AS w1, toks[i] AS w2))
          |     ELSE CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>)
          |END""".stripMargin)).as("p"))
        .select(col("p.w1"), col("p.w2"))
      val uni = t.select(explode(col("toks")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val nu = uni.agg(sum(col("c")).as("n_uni"))
      val big = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
        .filter(col("c_xy") >= pmiMinPair)
      val nb = pairs.agg(count(lit(1)).as("n_big"))
      big
        .join(broadcast(uni.select(col("w").as("w1"), col("c").as("c_x"))), "w1")
        .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c_y"))), "w2")
        .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
        .withColumn("pmi", round(log(
          (col("c_xy").cast("double") * col("n_uni") * col("n_uni")) /
            (col("n_big").cast("double") * col("c_x") * col("c_y"))), 6))
        .select(col("w1"), col("w2"), col("c_xy"), col("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(20)
    },
    Some(s"""WITH base AS (SELECT doc_id, $duckToks AS toks FROM documents WHERE lang = 'en'),
            |pairs AS (SELECT unnest(list_transform(range(greatest(len(toks) - 1, 0)),
            |                    i -> {'w1': toks[i+1], 'w2': toks[i+2]})) AS p
            |          FROM base),
            |pw AS (SELECT p.w1 AS w1, p.w2 AS w2 FROM pairs),
            |uni AS (SELECT unnest(toks) AS w FROM base),
            |uc AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY 1),
            |nu AS (SELECT CAST(SUM(c) AS BIGINT) AS n_uni FROM uc),
            |big AS (SELECT w1, w2, COUNT(*) AS c_xy FROM pw
            |        GROUP BY 1, 2 HAVING COUNT(*) >= $pmiMinPair),
            |nb AS (SELECT COUNT(*) AS n_big FROM pw)
            |SELECT big.w1, big.w2, CAST(c_xy AS BIGINT) AS c_xy,
            |       ROUND(LN((CAST(c_xy AS DOUBLE) * n_uni * n_uni) /
            |                (CAST(n_big AS DOUBLE) * x.c * y.c)), 6) AS pmi
            |FROM big JOIN uc x ON x.w = big.w1 JOIN uc y ON y.w = big.w2
            |CROSS JOIN nu CROSS JOIN nb
            |ORDER BY pmi DESC, big.w1, big.w2 LIMIT 20""".stripMargin))

  // p30 — INCREMENTAL dedup (batch-vs-index): admit or reject a new
  // ingest batch against the existing corpus — the daily-ingest shape
  // p6's self-dedup doesn't cover. The candidate join puts the
  // INCREMENT's band keys on one side and the CORPUS's on the other,
  // so corpus×corpus pairs — the quadratic a full re-dedup would pay
  // every day — are never generated: incremental cost is O(batch
  // bands × matching corpus buckets), and at 100 TB the corpus band
  // table is the precomputed persistent INDEX (written once, appended
  // per admitted batch), while only the increment is signed fresh.
  // Split predicate doc_id % 5 = 0 stands in for "today's batch"
  // deterministically at any SF. Verification is the exact shingle
  // Jaccard restricted to cross-side candidates (p6's verify shape);
  // the decision is per increment doc: reject iff ANY verified corpus
  // match, with the best match (highest rounded jaccard, lowest
  // corpus id) reported for lineage.
  private[graft] def incrementalDedup(s: SparkSession, d: String): DataFrame = {
    val isInc = pmod(col("doc_id"), lit(5)) === 0
    val shs = documents(s, d)
      .withColumn("toks", expr(toks))
      .withColumn("sh", expr(TextFns.shinglesExpr("toks")))
      .select(col("doc_id"), col("sh"), isInc.as("is_inc"))
      .persist() // reused: signatures + both verify sides + the admit frame
    // The md5 base-hash array is computed ONCE behind a cache boundary:
    // the 8 per-seed minhash projections would otherwise each inline
    // the md5 transform (projection collapse), and with the two band
    // branches that is 16× the hashing — measured 15× slower at the
    // signing stage (ScaleSmoke incremental, which sweeps this). The
    // p5-style distinct-shingle dictionary was rejected for THIS
    // operator: it shuffles every shingle instance to the dictionary
    // join, a corpus-sized shuffle, where the cache form stays map-only
    // (at 100 TB the cached hs frame is the signature table a real
    // pipeline materializes next to its band index anyway).
    val hsF = shs.withColumn("hs", expr(TextFns.md5IntsExpr("sh")))
      .select(col("doc_id"), col("is_inc"), col("hs"))
      .persist()
    val sig = hsF.select(Seq(col("doc_id"), col("is_inc")) ++
      (0 until 8).map(k => expr(TextFns.minhashExpr("hs", k)).as(s"mh$k")): _*)
    val bands = sig.select(col("doc_id"), col("is_inc"), explode(array(
        struct(lit(0).as("band_id"),
          concat(col("mh0"), lit("|"), col("mh1"), lit("|"), col("mh2"), lit("|"), col("mh3")).as("band_val")),
        struct(lit(1).as("band_id"),
          concat(col("mh4"), lit("|"), col("mh5"), lit("|"), col("mh6"), lit("|"), col("mh7")).as("band_val")))).as("b"))
      .select(col("doc_id"), col("is_inc"),
        col("b.band_id").as("band_id"), col("b.band_val").as("band_val"))
    val inc = bands.filter(col("is_inc"))
      .select(col("doc_id").as("da"), col("band_id"), col("band_val"))
    val corp = bands.filter(!col("is_inc"))
      .select(col("doc_id").as("db"), col("band_id").as("band_id2"), col("band_val").as("band_val2"))
    val cand = inc.join(corp,
        col("band_id") === col("band_id2") && col("band_val") === col("band_val2"))
      .select(col("da"), col("db")).distinct()
    val ss = shs.select(col("doc_id"), explode(array_distinct(col("sh"))).as("s")).persist()
    val sz = ss.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val ssa = ss.select(col("doc_id").as("da"), col("s"))
    val ssb = ss.select(col("doc_id").as("db2"), col("s").as("s2"))
    val inter = cand
      .join(ssa, "da")
      .join(ssb, col("db") === col("db2") && col("s") === col("s2"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("inter"))
    val sza = sz.select(col("doc_id").as("da"), col("n").as("na"))
    val szb = sz.select(col("doc_id").as("db"), col("n").as("nb"))
    val m = inter.join(sza, "da").join(szb, "db")
      .withColumn("jaccard", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= 0.8)
      .withColumn("rj", round(col("jaccard"), 6))
      .select(col("da"), col("db"), col("rj"))
      .persist() // tiny (verified matches); read by best-pick AND count
    dedupDecisionFrame(shs.filter(col("is_inc")).select(col("doc_id").as("inc_id")), m)
  }

  /** The p30 decision tail over verified matches `m(da, db, rj)` —
    * shared by [[incrementalDedup]] and [[incrementalDedupAgainst]] so
    * the self-trained and loaded-index paths cannot drift. Pass a
    * persisted `m` (read twice: best-pick and match count). */
  private def dedupDecisionFrame(incIds: DataFrame, m: DataFrame): DataFrame = {
    val wBest = Window.partitionBy(col("da")).orderBy(col("rj").desc, col("db"))
    val best = m.withColumn("rn", row_number().over(wBest)).filter(col("rn") === 1)
      .select(col("da"), col("db").as("best_match"), col("rj").as("best_jaccard"))
    val agg = m.groupBy(col("da")).agg(count(lit(1)).as("n_matches"))
    incIds
      .join(agg.withColumnRenamed("da", "inc_id"), Seq("inc_id"), "left")
      .join(best.withColumnRenamed("da", "inc_id"), Seq("inc_id"), "left")
      .na.fill(0L, Seq("n_matches"))
      .withColumn("decision", when(col("n_matches") > 0, "reject").otherwise("admit"))
      .select(col("inc_id"), col("decision"), col("n_matches"),
        col("best_match"), col("best_jaccard"))
      .orderBy(col("inc_id"))
  }

  /** Registry for the persist() boundaries the dedup helpers create —
    * one-shot gates leave them cached for the session (Bench clears
    * between queries), but the STREAMING ingest loop
    * ([[graft.streaming.Streams.maintainDedupIndex]]) calls the
    * helpers every micro-batch and must release them per batch or the
    * cache set grows without bound for the life of the stream. */
  private[graft] final class DedupCaches {
    private val frames = scala.collection.mutable.Buffer[DataFrame]()
    private[queries] def track(df: DataFrame): DataFrame = {
      frames.synchronized { frames += df }; df
    }
    def release(): Unit = frames.synchronized {
      frames.foreach(_.unpersist()); frames.clear()
    }
  }

  /** MinHash band values (the LSH bucket keys) of a `(doc_id, sh)`
    * frame — the exact banding [[incrementalDedup]] computes inline:
    * 8 minhash projections over the cached md5 base hashes, folded
    * into 2 bands of 4. Shared by the inline path and the persistent
    * index builder so the stored index cannot drift from the live
    * banding. */
  private def minhashBands(withSh: DataFrame,
      caches: Option[DedupCaches] = None): DataFrame = {
    // cache boundary before the 8 per-seed projections — without it
    // projection collapse inlines the md5 transform into each one
    // (the measured 15× signing cliff incrementalDedup documents)
    val hs = withSh.withColumn("hs", expr(TextFns.md5IntsExpr("sh")))
      .select(col("doc_id"), col("hs"))
      .persist()
    caches.foreach(_.track(hs))
    val sig = hs.select(Seq(col("doc_id")) ++
      (0 until 8).map(k => expr(TextFns.minhashExpr("hs", k)).as(s"mh$k")): _*)
    sig.select(col("doc_id"), explode(array(
        struct(lit(0).as("band_id"),
          concat(col("mh0"), lit("|"), col("mh1"), lit("|"), col("mh2"), lit("|"), col("mh3")).as("band_val")),
        struct(lit(1).as("band_id"),
          concat(col("mh4"), lit("|"), col("mh5"), lit("|"), col("mh6"), lit("|"), col("mh7")).as("band_val")))).as("b"))
      .select(col("doc_id"),
        col("b.band_id").as("band_id"), col("b.band_val").as("band_val"))
  }

  /** `(doc_id, sh)` — tokenized shingle arrays of any frame carrying
    * `doc_id`/`text`, persisted (scanned by banding, the shingle-set
    * explode, and decision frames). The shared entry of the dedup-index
    * surface. */
  private[graft] def docShingleFrame(docs: DataFrame): DataFrame =
    docs.withColumn("toks", expr(toks))
      .withColumn("sh", expr(TextFns.shinglesExpr("toks")))
      .select(col("doc_id"), col("sh"))
      .persist()

  /** The two index tables of a `(doc_id, sh)` frame: MinHash bands
    * `(db, band_id, band_val)` + distinct shingles `(db, s)`. */
  private[graft] def dedupIndexTables(withSh: DataFrame,
      caches: Option[DedupCaches] = None): (DataFrame, DataFrame) = (
    minhashBands(withSh, caches)
      .select(col("doc_id").as("db"), col("band_id"), col("band_val")),
    withSh.select(col("doc_id").as("db"), explode(array_distinct(col("sh"))).as("s")))

  /** The STANDING corpus's persistent dedup index — what the p30
    * 100 TB story calls "the corpus band table is the precomputed
    * persistent index", made concrete: the band table
    * `(db, band_id, band_val)` plus the distinct-shingle table
    * `(db, s)` (the exact-verify side a real pipeline materializes
    * next to its band index). Built once offline over the non-increment
    * docs, saved via [[graft.ops.IndexStore]], loaded per ingest batch;
    * IndexStoreSpec pins that [[incrementalDedupAgainst]] a loaded
    * index equals the self-trained [[incrementalDedup]] gate. */
  private[graft] def dedupCorpusIndex(s: SparkSession, d: String): (DataFrame, DataFrame) =
    dedupIndexTables(docShingleFrame(
      documents(s, d).filter(pmod(col("doc_id"), lit(5)) =!= 0)))

  /** Admit/reject a `(doc_id, sh)` batch against a corpus index: the
    * p30 decision (band candidates → exact-Jaccard ≥ 0.8 verify → the
    * shared decision tail), parameterized over the corpus frames so
    * the self-trained gate, the loaded-index run, and the STREAMING
    * ingest loop ([[graft.streaming.Streams.maintainDedupIndex]]) all
    * execute the identical plan. */
  private[graft] def dedupDecide(incWithSh: DataFrame,
      corpusBands: DataFrame, corpusShingles: DataFrame,
      caches: Option[DedupCaches] = None): DataFrame = {
    val incBands = minhashBands(incWithSh, caches)
      .select(col("doc_id").as("da"), col("band_id"), col("band_val"))
    val cand = incBands.join(
        corpusBands.select(col("db"), col("band_id").as("band_id2"), col("band_val").as("band_val2")),
        col("band_id") === col("band_id2") && col("band_val") === col("band_val2"))
      .select(col("da"), col("db")).distinct()
    val ssa = incWithSh.select(col("doc_id").as("da"), explode(array_distinct(col("sh"))).as("s"))
    val inter = cand
      .join(ssa, "da")
      .join(corpusShingles.select(col("db").as("db2"), col("s").as("s2")),
        col("db") === col("db2") && col("s") === col("s2"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("inter"))
    val sza = ssa.groupBy(col("da")).agg(count(lit(1)).as("na"))
    val szb = corpusShingles.groupBy(col("db")).agg(count(lit(1)).as("nb"))
    val m = inter.join(sza, "da").join(szb, "db")
      .withColumn("jaccard", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= 0.8)
      .withColumn("rj", round(col("jaccard"), 6))
      .select(col("da"), col("db"), col("rj"))
      .persist()
    caches.foreach(_.track(m))
    dedupDecisionFrame(incWithSh.select(col("doc_id").as("inc_id")), m)
  }

  /** [[incrementalDedup]] against a PRE-BUILT corpus index instead of
    * re-deriving the corpus side per run: the increment's bands and
    * shingles compute fresh (one pass over the new batch), candidates
    * come from the band equi-join against the stored band table, the
    * exact verify joins the stored shingle table. Same expressions,
    * same thresholds, same decision tail — bit-identical output to the
    * self-trained path by construction. */
  private[graft] def incrementalDedupAgainst(s: SparkSession, d: String,
      corpusBands: DataFrame, corpusShingles: DataFrame): DataFrame =
    dedupDecide(
      docShingleFrame(documents(s, d).filter(pmod(col("doc_id"), lit(5)) === 0)),
      corpusBands, corpusShingles)

  val p30 = QuerySpec(
    "p30_incremental_dedup",
    (s, d) => incrementalDedup(s, d),
    Some(s"""WITH ${duckPairCtesWith("a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0")},
            |m AS (SELECT da, db, ROUND(jaccard, 6) AS rj FROM pairs),
            |best AS (SELECT da, db, rj, ROW_NUMBER() OVER
            |           (PARTITION BY da ORDER BY rj DESC, db) AS rn FROM m),
            |agg AS (SELECT da, COUNT(*) AS n_matches FROM m GROUP BY 1),
            |inc AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0)
            |SELECT inc.doc_id AS inc_id,
            |       CASE WHEN agg.n_matches IS NULL THEN 'admit' ELSE 'reject' END AS decision,
            |       COALESCE(agg.n_matches, 0) AS n_matches,
            |       best.db AS best_match, best.rj AS best_jaccard
            |FROM inc LEFT JOIN agg ON agg.da = inc.doc_id
            |         LEFT JOIN best ON best.da = inc.doc_id AND best.rn = 1
            |ORDER BY inc_id""".stripMargin))

  // p31 — quality-classifier INFERENCE: a fixed linear model over
  // p2's quality features (the fastText-style "good vs low quality"
  // filter every curation pipeline runs, with the trained weights as
  // plan literals). Pure map-only projection — no shuffle at all
  // until the tiny per-language decision rollup — so at 100 TB it
  // rides the same scan that computes p2 and costs one pass. The
  // sigmoid is one double expression phrased identically in both
  // engines (exp is libm-vs-JVM 1-ulp, the 6-dp round absorbs it —
  // q17's ln convention). Weights chosen so the fixture splits
  // meaningfully (~ sigmoid of centered features, not a constant).
  private val qcW: (Double, Double, Double, Double, Double) =
    (-3.05, 0.35, 2.0, -3.0, 0.18) // w0, w_avgtoklen, w_ttr, w_stop, w_lnTok
  // w0 centers the fixture's z near 0 so the 0.5 boundary actually
  // splits the corpus (an all-keep classifier gates nothing)

  /** p31's per-doc classifier score over any frame carrying `text` —
    * factored out so p35's source-reputation rollup scores with the
    * SAME model (one formula, two gates). Appends `score` (6-dp
    * sigmoid) and `keep`. */
  private[graft] def qualityScored(df: DataFrame): DataFrame = {
    val (w0, w1, w2, w3, w4) = qcW
    df.withColumn("toks", expr(toks))
      .withColumn("n_tok", size(col("toks")))
      .withColumn("len_sum", expr(TextFns.tokenLenSumExpr("toks")))
      .withColumn("n_uniq", size(array_distinct(col("toks"))))
      .withColumn("n_stop", expr(TextFns.wordListCountExpr("toks", TextFns.stopwords.toMap.apply("en"))))
      // empty-doc guard: the ratios divide by n_tok and log(0) = -inf —
      // a CASE gate (branches evaluate lazily per row, so ANSI mode
      // never sees the division) makes the helper safe on arbitrary
      // frames beyond the fixture's non-empty contract: score null,
      // keep false. Fixture has no empty docs, so gated hashes are
      // unchanged.
      .withColumn("z", when(col("n_tok") > 0,
        lit(w0) +
          lit(w1) * (col("len_sum").cast("double") / col("n_tok")) +
          lit(w2) * (col("n_uniq").cast("double") / col("n_tok")) +
          lit(w3) * (col("n_stop").cast("double") / col("n_tok")) +
          lit(w4) * log(col("n_tok").cast("double"))))
      .withColumn("score", round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6))
      .withColumn("keep", coalesce(col("score") >= 0.5, lit(false)))
  }

  /** DuckDB CTE chain ending in `sc(doc_id, lang, source, score)` —
    * the oracle-side rendering of [[qualityScored]], shared by the
    * p31 and p35 oracles. */
  private def duckQualityCtes: String = {
    val (w0, w1, w2, w3, w4) = qcW
    val en = TextFns.stopwords.toMap.apply("en").map(w => s"'$w'").mkString(", ")
    s"""qbase AS (SELECT doc_id, lang, source, $duckToks AS toks FROM documents),
       |qfeat AS (SELECT doc_id, lang, source, len(toks) AS n_tok,
       |                list_sum(list_transform(toks, t -> length(t))) AS len_sum,
       |                len(list_distinct(toks)) AS n_uniq,
       |                list_sum(list_transform(toks, t -> CASE WHEN t IN ($en) THEN 1 ELSE 0 END)) AS n_stop
       |         FROM qbase),
       |qz AS (SELECT doc_id, lang, source,
       |        $w0 + $w1 * (CAST(len_sum AS DOUBLE) / n_tok)
       |            + $w2 * (CAST(n_uniq AS DOUBLE) / n_tok)
       |            + $w3 * (CAST(n_stop AS DOUBLE) / n_tok)
       |            + $w4 * LN(CAST(n_tok AS DOUBLE)) AS z
       |      FROM qfeat),
       |sc AS (SELECT doc_id, lang, source, ROUND(1.0 / (1.0 + EXP(-z)), 6) AS score FROM qz)""".stripMargin
  }

  val p31 = QuerySpec(
    "p31_quality_classifier",
    (s, d) => {
      val perDoc = qualityScored(documents(s, d))
        .select(col("doc_id"), col("lang"), col("score"), col("keep"))
      // mean over 6-dp scores via exact e6-integer sums: summing raw
      // doubles is addition-order-dependent (the r1 determinism rule)
      perDoc.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
          round(sum(round(col("score") * 1e6).cast("long")).cast("double") /
            (count(lit(1)) * 1e6), 6).as("mean_score"),
          min(col("score")).as("min_score"),
          max(col("score")).as("max_score"))
        .orderBy(col("lang"))
    },
    Some(s"""WITH $duckQualityCtes
            |SELECT lang, COUNT(*) AS n_docs,
            |       CAST(SUM(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
            |       ROUND(CAST(SUM(CAST(ROUND(score * 1e6) AS BIGINT)) AS DOUBLE)
            |             / (COUNT(*) * 1e6), 6) AS mean_score,
            |       MIN(score) AS min_score, MAX(score) AS max_score
            |FROM sc GROUP BY lang ORDER BY lang""".stripMargin))

  // p32 — duplicated-span SCRUB: the removal step completing p25's
  // substring-dedup story (Lee et al. 2022 drop the repeated
  // substring, not the document). Every token covered by ANY span
  // recurring across >=2 distinct docs is masked out; the manifest
  // emits per-doc token/masked counts plus the md5 of the scrubbed
  // text (p19's byte-identity convention — the gate proves the exact
  // output string without shipping it). Shape: positioned spans from
  // a posexplode INSIDE the scan task; the duplicate-span dictionary
  // is ONE span-keyed agg (map-side partials); covered positions are
  // a generator over the span-dictionary join; the final mask is a
  // filter HOF over the collected per-doc index set (bounded by doc
  // length). At 100 TB the span join keys on the 64-bit span hash
  // (p25's dial) and the dictionary is the materialized p25 output.
  /** The p32 mask over per-row `toks`/`cov` (cov = sorted covered
    * 0-based positions): kept positions = ALL positions minus cov via
    * `array_except`, which builds a hash set of `cov` — O(n_tok +
    * n_cov) per doc, replacing the r16 `filter(toks, (t, i) -> NOT
    * array_contains(cov, i))` form whose per-token linear scan of cov
    * was O(n_tok × n_cov) (quadratic on a boilerplate-heavy long doc
    * with most positions covered — the r16 verdict nit). array_except
    * preserves left-operand order and `sequence` has no duplicates, so
    * the kept positions come back in document order and the output is
    * hash-identical. Shared with ScaleSmoke's long-doc linearity
    * datapoint. The CASE guards sequence(0, -1) on empty docs (that
    * call would yield [0, -1], not an empty range). */
  private[graft] val scrubKeptToksExpr: String =
    """CASE WHEN size(toks) = 0 THEN CAST(array() AS ARRAY<STRING>)
      |     ELSE transform(array_except(sequence(0, size(toks) - 1), cov), i -> toks[i])
      |END""".stripMargin

  val p32 = QuerySpec(
    "p32_span_scrub",
    (s, d) => {
      val t = documents(s, d)
        .withColumn("toks", expr(toks))
        .select(col("doc_id"), col("toks"))
        .persist() // reused: span mining + the final scrub join
      val spans = t.select(col("doc_id"),
        posexplode(expr(TextFns.shinglesExpr("toks", dupSpanN))).as(Seq("pos", "span")))
      val dup = spans.groupBy(col("span"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2).select(col("span"))
      val covered = spans.join(dup, "span")
        .select(col("doc_id"),
          explode(expr(s"sequence(pos, pos + ${dupSpanN - 1})")).as("idx"))
      // no distinct() before the rollup: collect_set dedups by
      // definition, and Catalyst's RemoveRedundantAggregates was
      // already folding the distinct away (r21 plan audit: operator
      // counts identical with and without it) — dropped from the
      // source so the code says what the plan does
      val cov = covered.groupBy(col("doc_id"))
        .agg(sort_array(collect_set(col("idx"))).as("cov"))
      t.join(cov, Seq("doc_id"), "left")
        .withColumn("cov", coalesce(col("cov"), expr("CAST(array() AS ARRAY<INT>)")))
        .select(col("doc_id"),
          size(col("toks")).as("n_tok"),
          size(col("cov")).as("n_masked"),
          md5(concat_ws(" ", expr(scrubKeptToksExpr))).as("scrub_md5"))
        .orderBy(col("doc_id"))
    },
    Some {
      val parts = (1 to dupSpanN).map(k => s"toks[i+$k]").mkString(" || ' ' || ")
      val offsets = (0 until dupSpanN).mkString("[", ", ", "]")
      s"""WITH base AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |sh AS (SELECT doc_id, i AS pos, $parts AS span
         |       FROM base, UNNEST(range(greatest(len(toks)-${dupSpanN - 1}, 0))) AS u(i)),
         |g AS (SELECT span FROM sh GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2),
         |covered AS (SELECT DISTINCT sh.doc_id, sh.pos + o AS idx
         |            FROM sh JOIN g USING(span), UNNEST($offsets) AS ofs(o)),
         |cov AS (SELECT doc_id, list_sort(list(idx)) AS cov FROM covered GROUP BY 1)
         |SELECT b.doc_id, len(b.toks) AS n_tok,
         |       COALESCE(len(c.cov), 0) AS n_masked,
         |       md5(COALESCE(array_to_string(list_filter(b.toks,
         |             (t, i) -> NOT list_contains(COALESCE(c.cov, []), i - 1)), ' '), '')) AS scrub_md5
         |FROM base b LEFT JOIN cov c ON c.doc_id = b.doc_id ORDER BY b.doc_id""".stripMargin
    })

  // p33 — FEATURE HASHING (the hashing trick, Weinberger et al. 2009)
  // + cosine top-k over the hashed document vectors: the bridge from
  // the text family to the vector family when no external embedding
  // model exists — every doc becomes a fixed-dim hashed bag-of-words
  // vector INSIDE the engine, and the q18 retrieval shape runs on it.
  // The cosine is computed in SPARSE form — Σ ca·cb over shared
  // buckets — so both engines do integer-exact dot products (counts
  // are ints; only the final normalize divides). Shape: bucket ids
  // are a map-side projection (md5 % dim, the p17/p26 convention);
  // per-doc bucket counts are ONE partial-aggregated shuffle; the
  // 5-query side (≤ 5·dim rows) BROADCASTS into the bucket equi-join,
  // so the corpus side never shuffles for the join; top-k is a tiny
  // ranking window per query. At 100 TB dim rises (2^18 is standard)
  // and nothing changes — the join key space is the bucket id.
  private val fhDim = 64

  val p33 = QuerySpec(
    "p33_feature_hash",
    (s, d) => {
      val bux = documents(s, d)
        .select(col("doc_id"), explode(expr(toks)).as("tok"))
        .select(col("doc_id"),
          expr(s"${TextFns.md5IntScalarExpr("tok")} % $fhDim").as("bucket"))
        .groupBy(col("doc_id"), col("bucket")).agg(count(lit(1)).as("c"))
        .persist() // reused: corpus side, query side, norms
      val nrm = bux.groupBy(col("doc_id"))
        .agg(sqrt(sum(col("c") * col("c")).cast("double")).as("nrm"))
      val q = bux.filter(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("bucket"), col("c").as("qc"))
      val dot = bux.join(broadcast(q), Seq("bucket"))
        .filter(col("doc_id") =!= col("qid"))
        .groupBy(col("qid"), col("doc_id"))
        .agg(sum(col("c") * col("qc")).as("dot"))
      val na = nrm.select(col("doc_id").as("qid"), col("nrm").as("qn"))
      val pairs = dot
        .join(broadcast(na), "qid")
        .join(nrm, "doc_id")
        .withColumn("cos", round(col("dot").cast("double") / (col("qn") * col("nrm")), 6))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("doc_id"))
      pairs.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("qid"), col("rn"), col("doc_id").as("cid"), col("cos").as("cosine"))
        .orderBy(col("qid"), col("rn"))
    },
    Some(s"""WITH tok AS (SELECT doc_id, unnest($duckToks) AS tok FROM documents),
            |bux AS (SELECT doc_id,
            |          CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)
            |            % ${TextFns.minhashP} % $fhDim AS bucket,
            |          COUNT(*) AS c
            |        FROM tok GROUP BY 1, 2),
            |nrm AS (SELECT doc_id, SQRT(CAST(SUM(c*c) AS DOUBLE)) AS nrm FROM bux GROUP BY 1),
            |q AS (SELECT doc_id AS qid, bucket, c AS qc FROM bux WHERE doc_id < 5),
            |d AS (SELECT q.qid, b.doc_id, SUM(b.c * q.qc) AS dot
            |      FROM bux b JOIN q ON q.bucket = b.bucket AND b.doc_id <> q.qid
            |      GROUP BY 1, 2),
            |pc AS (SELECT d.qid, d.doc_id,
            |         ROUND(CAST(d.dot AS DOUBLE) / (na.nrm * nb.nrm), 6) AS cos
            |       FROM d JOIN nrm na ON na.doc_id = d.qid
            |              JOIN nrm nb ON nb.doc_id = d.doc_id),
            |r AS (SELECT qid, doc_id, cos, ROW_NUMBER() OVER
            |        (PARTITION BY qid ORDER BY cos DESC, doc_id) AS rn FROM pc)
            |SELECT qid, CAST(rn AS INTEGER) AS rn, doc_id AS cid, cos AS cosine
            |FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin))

  // p34 — PERPLEXITY scoring (the CCNet/RedPajama quality signal):
  // a unigram language model trained on the corpus itself (add-1
  // smoothed), then every document scored by its per-token
  // cross-entropy under that model — low = head-like fluent text,
  // high = tail/noise. The real pipelines use a 5-gram KenLM; the
  // unigram form keeps the oracle a pure SQL replay while exercising
  // the identical engine shape: ONE vocabulary agg (map-side
  // partials, vocab-sized output), the LM table BROADCAST into a
  // map-side score join, ONE doc-keyed agg for the sums. Float
  // discipline: each token's ln p is rounded to 6 dp and summed as
  // exact e6 integers, so distributed addition order cannot fork the
  // oracle (the r1 rule); the final normalize divides once.
  val p34 = QuerySpec(
    "p34_perplexity",
    (s, d) => {
      val tok = documents(s, d).filter(col("lang") === "en")
        .select(col("doc_id"), explode(expr(toks)).as("tok"))
      val lm = tok.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val stats = lm.agg(sum(col("c")).as("nu"), count(lit(1)).as("v"))
      val scored = tok
        .join(broadcast(lm), "tok")
        .crossJoin(broadcast(stats))
        .withColumn("lp_e6", round(
          log((col("c") + 1.0) / (col("nu") + col("v"))) * 1e6).cast("long"))
      scored.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"),
          round(-(sum(col("lp_e6")).cast("double") / 1e6) /
            count(lit(1)), 6).as("xent"))
        .withColumn("ppl", round(exp(col("xent")), 2))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH tok AS (SELECT doc_id, unnest($duckToks) AS tok
            |             FROM documents WHERE lang = 'en'),
            |lm AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY 1),
            |stats AS (SELECT CAST(SUM(c) AS BIGINT) AS nu, COUNT(*) AS v FROM lm),
            |sc AS (SELECT doc_id,
            |         CAST(ROUND(LN((c + 1.0) / (nu + v)) * 1e6) AS BIGINT) AS lp_e6
            |       FROM tok JOIN lm ON lm.tok = tok.tok CROSS JOIN stats)
            |SELECT doc_id, COUNT(*) AS n_tok,
            |       ROUND(-(CAST(SUM(lp_e6) AS DOUBLE) / 1e6) / COUNT(*), 6) AS xent,
            |       ROUND(EXP(ROUND(-(CAST(SUM(lp_e6) AS DOUBLE) / 1e6) / COUNT(*), 6)), 2) AS ppl
            |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  // p35 — SOURCE REPUTATION rollup: the per-domain curation decision
  // every web pipeline runs ("blocklist the domain, not the page") —
  // a COMPOSITION gate proving the pieces work together: p31's
  // classifier scores every doc, p6's verified near-dup pairs mark
  // duplicated docs, and both roll up per source into a
  // keep/blocklist decision. Shape: nothing new shuffles — scores
  // are map-only, the dup-doc id set is O(near-dup pairs) and ships
  // ids only, the rollup is one tiny agg keyed by source. Decision
  // thresholds are plan literals applied to the ROUNDED deterministic
  // aggregates, so both engines branch identically.
  private val srcDupTau = 0.08
  private val srcScoreTau = 0.505

  val p35 = QuerySpec(
    "p35_source_reputation",
    (s, d) => {
      val scores = qualityScored(documents(s, d))
        .select(col("doc_id"), col("source"), col("score"))
      val pairs = minhashPairs(s, d).select(col("da"), col("db"))
      val dupIds = pairs.select(col("da").as("doc_id"))
        .unionByName(pairs.select(col("db").as("doc_id")))
        .distinct()
        .withColumn("is_dup", lit(1L))
      scores.join(dupIds, Seq("doc_id"), "left")
        .na.fill(0L, Seq("is_dup"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("is_dup")).as("dup_docs"),
          round(sum(round(col("score") * 1e6).cast("long")).cast("double") /
            (count(lit(1)) * 1e6), 6).as("mean_score"))
        .withColumn("dup_rate",
          round(col("dup_docs").cast("double") / col("n_docs"), 6))
        .withColumn("decision",
          when(col("dup_rate") >= srcDupTau || col("mean_score") < srcScoreTau,
            "blocklist").otherwise("keep"))
        .select(col("source"), col("n_docs"), col("dup_docs"),
          col("mean_score"), col("dup_rate"), col("decision"))
        .orderBy(col("source"))
    },
    Some(s"""WITH $duckPairCtes,
            |$duckQualityCtes,
            |dup AS (SELECT DISTINCT doc_id FROM
            |          (SELECT da AS doc_id FROM pairs UNION ALL SELECT db FROM pairs)),
            |j AS (SELECT sc.source, sc.score,
            |        CASE WHEN dup.doc_id IS NULL THEN 0 ELSE 1 END AS is_dup
            |      FROM sc LEFT JOIN dup ON dup.doc_id = sc.doc_id),
            |agg AS (SELECT source, COUNT(*) AS n_docs,
            |          CAST(SUM(is_dup) AS BIGINT) AS dup_docs,
            |          ROUND(CAST(SUM(CAST(ROUND(score * 1e6) AS BIGINT)) AS DOUBLE)
            |                / (COUNT(*) * 1e6), 6) AS mean_score
            |        FROM j GROUP BY 1)
            |SELECT source, n_docs, dup_docs, mean_score,
            |       ROUND(CAST(dup_docs AS DOUBLE) / n_docs, 6) AS dup_rate,
            |       CASE WHEN ROUND(CAST(dup_docs AS DOUBLE) / n_docs, 6) >= $srcDupTau
            |                 OR mean_score < $srcScoreTau
            |            THEN 'blocklist' ELSE 'keep' END AS decision
            |FROM agg ORDER BY source""".stripMargin))

  // p36 — the FULL production ANN stack as ONE query (the r16 verdict's
  // top-next): trained-IVF list routing (p22) → PQ-ADC scan of ONLY the
  // probed lists' members (p24) → exact rescore of the survivor pool
  // (p23's discipline). Each stage cuts the candidate set for the next:
  // probe selects ~nprobe/K of the corpus, those candidates are scanned
  // as M-byte PQ codes instead of float vectors (16× less memory
  // bandwidth), and only the top `pqPool` per query pay an exact float
  // dot. This is the plan a 100 TB retrieval service actually runs —
  // the pieces were hash-gated separately (p22/p23/p24); this gate
  // proves they COMPOSE under one oracle: the DuckDB side walks the
  // identical k-means trajectory, list routing, PQ encode, ADC scores,
  // and rescore. Scale shape: training is p20's bounded driver state;
  // encode is a map-only kernel projection; candidates come from a
  // list equi-join against broadcast probes (never all-pairs); the
  // rescore pool is a fixed constant per query.
  /** The shared p36/p48 retrieval stack: trained-IVF list routing →
    * PQ-ADC scan of ONLY the probed lists' members → exact rescore of
    * the survivor pool. `allow` is an optional `vec_id` allow-list (the
    * p48 attribute filter): with `postFilter = false` it semi-joins the
    * LIST MEMBERSHIP table before the probe join, so disallowed vectors
    * never reach the ADC scan and the pqPool budget is spent entirely
    * on vectors that can actually be returned (pre-filtering, the
    * production shape); with `postFilter = true` it is applied to the
    * already-selected pool instead (the naive post-filter whose recall
    * loss the spec pins — kept private, only the spec drives it). */
  private[graft] def annFullStack(s: SparkSession, d: String,
      allow: Option[DataFrame] = None, postFilter: Boolean = false,
      source: Option[DataFrame] = None): DataFrame = {
    graft.expressions.VectorExpressions.register(s)
    // `source` swaps the vector space the WHOLE stack runs in (p51:
    // whitened 6-dp doubles) — train, lists, codebook, ADC, and exact
    // rescore all see the same conditioned vectors, so the quantizers
    // approximate exactly the metric they serve; norms recompute here
    // with the shared kernel either way (float_dot is type-generic,
    // left-to-right accumulation in both element widths)
    val e = source.getOrElse(embeddings(s, d))
      .select(col("vec_id"), col("embedding"),
        expr(VectorFns.fastNormExpr("embedding")).as("nrm"))
      .persist() // reused: training scans (×iters), list build, PQ encode, rescore
    val e0 = e.select(col("vec_id"), col("embedding"))
    // forceKernel: same rationale as p22 — strategies are bit-identical
    // (fuzz-pinned) and the kernel avoids the per-iteration janino
    // compile of a K·dim expanded projection.
    // The PQ codebook collect is INDEPENDENT of the trained model (it is
    // the first pqK vectors), so it runs concurrently with the training
    // iterations (r22, guide §2.6 — the p49 overlap pattern). It launches
    // from fit's afterSeed hook, NOT before fit: the seed job is what
    // materializes the shared `e` cache, and two concurrent first
    // consumers would each compute the upstream (for p51, the whole
    // whitening map) into the cache — the duplicate-materialization race
    // the p43b note warns about. After the seed job the cache is warm
    // and the codebook TakeOrdered rides it while iteration 1 runs.
    val cbP = scala.concurrent.Promise[Array[Array[Array[Double]]]]()
    val model = graft.ops.KMeans.fit(e0, "vec_id", "embedding", kmK, kmIters,
      forceKernel = true,
      afterSeed = () => cbP.completeWith(scala.concurrent.Future {
        pqCodebook(e)
      }(scala.concurrent.ExecutionContext.global)))
    // no persist (r22): one consumer only (the members semi-join /
    // candidate equi-join) over the already-cached e0 — see p22's note
    val lists = graft.ops.KMeans.assign(e0, "embedding", model, forceKernel = true)
      .select(col("vec_id"), col("cluster").as("list_id"))
    // the p48 pre-filter: prune the membership table itself, BEFORE
    // probes select candidates — the allow-list is dimension-sized
    // (metadata, not vectors), so it broadcasts into a semi join
    val members = allow match {
      case Some(a) if !postFilter =>
        lists.join(broadcast(a), Seq("vec_id"), "left_semi")
      case _ => lists
    }
    // PQ encode of the corpus (p24's kernel + reconstruction literals)
    val cb = scala.concurrent.Await.result(
      cbP.future, scala.concurrent.duration.Duration.Inf)
    val enc = pqEncodeReconstruct(s, e, cb)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
    // probe ranking against the TRAINED centroids (p22's convention:
    // trainer's own cosineTo, 6-dp round, cluster-index tiebreak)
    val scoreArr = array(model.centroids.zipWithIndex.map { case (c, j) =>
      struct(graft.ops.KMeans.cosineTo("qe", "qn", c).as("ccos"), lit(j).as("cent_id"))
    }: _*)
    val wProbe = Window.partitionBy(col("qid")).orderBy(col("ccos").desc, col("list_id"))
    val probes = q.select(col("qid"), explode(scoreArr).as("sc"))
      .select(col("qid"), col("sc.cent_id").as("list_id"), col("sc.ccos").as("ccos"))
      .withColumn("crn", row_number().over(wProbe))
      .filter(col("crn") <= ivfProbe)
      .select(col("qid"), col("list_id"))
    // no distinct(): members is unique per vec_id (argmax assignment,
    // optionally semi-join-pruned — pruning can't create rows) and
    // probes are unique per (qid, list_id), so the equi-join cannot
    // duplicate (qid, vec_id) — the distinct cost a full extra
    // Exchange over the candidate set (guide §2.4)
    val cand = members.join(broadcast(probes), "list_id")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"))
    // ADC over list members only: exact query float vs reconstructed codes
    val dotA = "aggregate(zip_with(qe, rv, (x, y) -> CAST(x AS DOUBLE) * y), 0D, (acc, x) -> acc + x)"
    val scored = cand
      .join(enc, "vec_id")
      .join(broadcast(q), "qid")
      .withColumn("acos_", round(expr(dotA) / (col("qn") * col("rnrm")), 6))
    val wA = Window.partitionBy(col("qid")).orderBy(col("acos_").desc, col("vec_id"))
    val pool0 = scored.withColumn("arn", row_number().over(wA)).filter(col("arn") <= pqPool)
    val pool = allow match {
      case Some(a) if postFilter => pool0.join(broadcast(a), Seq("vec_id"), "left_semi")
      case _ => pool0
    }
    val exact = pool.withColumn("cos",
      round(expr(VectorFns.fastDotExpr("embedding", "qe")) / (col("nrm") * col("qn")), 6)
        + lit(0.0)) // −0.0 guard, both engines (see pcaR6) — no-op on raw vectors
    val wT = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    exact.withColumn("rn", row_number().over(wT)).filter(col("rn") <= 3)
      .select(col("qid"), col("rn"), col("vec_id").as("cid"), col("cos").as("cosine"))
      .orderBy(col("qid"), col("rn"))
  }

  val p36 = QuerySpec(
    "p36_ann_full_stack",
    (s, d) => annFullStack(s, d),
    // oracle = p22's trajectory + routing CTEs composed with p24's PQ
    // CTEs (pqseeds/cb renamed to avoid the k-means `seeds` clash), ADC
    // restricted to the routed candidates, then the exact rescore
    Some(duckAnnStackSql("", "")))

  /** DuckDB rendering of [[annFullStack]] (train → route → PQ-ADC →
    * exact rescore). `allowCte`/`allowJoin` inject the p48 allow-list
    * into the candidate CTE — empty strings render the unfiltered p36
    * oracle, so both gates replay the IDENTICAL trajectory and differ
    * only where the engines differ: the candidate screen. `src`/
    * `fTab`/`nTab` swap the vector space the whole stack reads
    * ([[duckKmeansPrefix]]) — p51 runs it over the whitened CTEs.
    * The final cosine carries a `+ 0.0` −0.0 guard on BOTH sides
    * (DuckDB ROUND keeps the sign bit, Spark's BigDecimal round never
    * emits −0.0; the whitened space can rescore to exactly zero). */
  private def duckAnnStackSql(allowCte: String, allowJoin: String,
      src: String = "", fTab: String = "f", nTab: String = "n"): String =
    s"""${duckKmeansPrefix(kmK, src, fTab, nTab)},
            |cnF AS (SELECT cent_id, SQRT(SUM(v*v)) AS cnrm FROM c$kmIters GROUP BY 1),
            |scF AS (SELECT $fTab.vec_id, c.cent_id, SUM($fTab.v * c.v) AS dot
            |        FROM $fTab JOIN c$kmIters c ON c.i = $fTab.i GROUP BY 1, 2),
            |rkF AS (SELECT s.vec_id, s.cent_id, ROW_NUMBER() OVER
            |          (PARTITION BY s.vec_id
            |           ORDER BY ROUND(s.dot / (n.nrm * cn.cnrm), 6) DESC, s.cent_id) AS crn
            |        FROM scF s JOIN $nTab n ON n.vec_id = s.vec_id
            |                    JOIN cnF cn ON cn.cent_id = s.cent_id),
            |asgF AS (SELECT vec_id, cent_id AS list_id FROM rkF WHERE crn = 1),
            |probe AS (SELECT vec_id AS qid, cent_id AS list_id FROM rkF
            |          WHERE vec_id < 5 AND crn <= $ivfProbe),
            |${allowCte}cand AS (SELECT DISTINCT p.qid, a.vec_id AS cid
            |         FROM probe p JOIN asgF a ON a.list_id = p.list_id AND a.vec_id <> p.qid$allowJoin),
            |pqseeds AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j
            |            FROM embeddings ORDER BY vec_id LIMIT $pqK),
            |cb AS (SELECT s.j, CAST(FLOOR($fTab.i / $pqSub) AS BIGINT) AS m, $fTab.i % $pqSub AS t,
            |               ROUND($fTab.v, 6) AS cv
            |        FROM $fTab JOIN pqseeds s ON $fTab.vec_id = s.vec_id),
            |ccn AS (SELECT m, j, SUM(cv*cv) AS cc FROM cb GROUP BY 1, 2),
            |psc AS (SELECT $fTab.vec_id, cb.m, cb.j, SUM($fTab.v * cb.cv) AS dot
            |        FROM $fTab JOIN cb ON cb.m = CAST(FLOOR($fTab.i / $pqSub) AS BIGINT)
            |                      AND cb.t = $fTab.i % $pqSub
            |        GROUP BY 1, 2, 3),
            |prk AS (SELECT s.vec_id, s.m, s.j, ROW_NUMBER() OVER
            |          (PARTITION BY s.vec_id, s.m
            |           ORDER BY ROUND(s.dot - 0.5 * c.cc, 6) DESC, s.j) AS jr
            |        FROM psc s JOIN ccn c ON c.m = s.m AND c.j = s.j),
            |code AS (SELECT vec_id, m, j FROM prk WHERE jr = 1),
            |r AS (SELECT code.vec_id, cb.m * $pqSub + cb.t AS i, cb.cv AS rv
            |      FROM code JOIN cb ON cb.m = code.m AND cb.j = code.j),
            |rn_ AS (SELECT vec_id, SQRT(SUM(rv*rv)) AS rnrm FROM r GROUP BY 1),
            |ad AS (SELECT cand.qid, cand.cid, SUM(fq.v * r.rv) AS dot
            |       FROM cand JOIN $fTab fq ON fq.vec_id = cand.qid
            |                 JOIN r ON r.vec_id = cand.cid AND r.i = fq.i
            |       GROUP BY 1, 2),
            |ac AS (SELECT qid, cid, ad.dot / (nq.nrm * nc.rnrm) AS acos_
            |       FROM ad JOIN $nTab nq ON nq.vec_id = qid JOIN rn_ nc ON nc.vec_id = cid),
            |pool AS (SELECT qid, cid FROM (
            |           SELECT qid, cid, ROW_NUMBER() OVER
            |             (PARTITION BY qid ORDER BY ROUND(acos_, 6) DESC, cid) AS arn FROM ac)
            |         WHERE arn <= $pqPool),
            |pd AS (SELECT pool.qid, pool.cid, SUM(x.v * y.v) AS dot
            |       FROM pool JOIN $fTab x ON x.vec_id = pool.qid
            |                 JOIN $fTab y ON y.vec_id = pool.cid AND y.i = x.i
            |       GROUP BY 1, 2),
            |pc AS (SELECT qid, cid, dot / (na.nrm * nb.nrm) AS cos
            |       FROM pd JOIN $nTab na ON na.vec_id = qid JOIN $nTab nb ON nb.vec_id = cid),
            |rr AS (SELECT qid, cid, cos, ROW_NUMBER() OVER
            |         (PARTITION BY qid ORDER BY ROUND(cos, 6) DESC, cid) AS rn2 FROM pc)
            |SELECT qid, CAST(rn2 AS INTEGER) AS rn, cid, ROUND(cos, 6) + 0.0 AS cosine
            |FROM rr WHERE rn2 <= 3 ORDER BY qid, rn""".stripMargin

  // p48 — ATTRIBUTE-FILTERED ANN search (the retrieval shape production
  // vector stores actually serve: "top-k nearest WHERE lang = 'en'").
  // The allow-list comes from a METADATA table (`documents`, joined on
  // vec_id = doc_id — the multimodal-row co-location, SURVEY §B.7) and
  // is applied INSIDE the probed IVF lists, before the PQ-ADC scan:
  // the membership table is semi-joined against the broadcast
  // allow-list, so disallowed vectors never consume ADC bandwidth and
  // the fixed pqPool rescore budget is spent entirely on returnable
  // candidates. Post-filtering instead (filter the final pool) loses
  // recall whenever disallowed vectors crowd the pool — pinned as a
  // live comparison in PipelineSpec, and the naive variant is only
  // reachable through the spec's `postFilter` switch. Scale shape: the
  // allow-list is attribute-dimension-sized (ids only, no vectors) →
  // broadcast semi join; everything else inherits p36's proven plan —
  // candidates from the list equi-join (never all-pairs), M-byte codes
  // until the pool cut, driver state bounded by K·dim. The oracle
  // replays the identical trajectory with the allow screen as one
  // extra equi-join in the candidate CTE.
  val p48 = QuerySpec(
    "p48_ann_filtered",
    (s, d) => annFullStack(s, d,
      allow = Some(documents(s, d).filter(col("lang") === "en")
        .select(col("doc_id").as("vec_id")))),
    Some(duckAnnStackSql(
      "allow AS (SELECT doc_id AS vec_id FROM documents WHERE lang = 'en'),\n",
      " JOIN allow w ON w.vec_id = a.vec_id")))

  // p49 — HYBRID RETRIEVAL via RECIPROCAL RANK FUSION (Cormack et al.
  // 2009 — the fusion every production RAG/search stack runs over its
  // lexical and vector arms): BM25 ranks (p27's scorer, SHARED code)
  // and cosine ranks (q18's convention, pseudo-query = vec 0, the
  // candidate universe = the en documents — p48's metadata
  // co-location) each cut to a top-`rrfPool`, then fuse by
  // rrf = Σ 1/(k + rank), k = 60. RRF is the production choice
  // precisely because it is SCALE-FREE: only ranks cross the fusion
  // boundary, so the incomparable score spaces (BM25 sums vs cosines)
  // never meet — which also makes the gate trivially deterministic:
  // ranks are exact ints (6-dp-rounded scores, id tiebreaks), each
  // fused term is one double division in fixed arm order, absent-arm
  // ranks surface as 0 (never NULL — engines disagree on NULL int
  // renderings). Shape at 100 TB: each arm is a DISTRIBUTED plan
  // ending in TakeOrdered(pool) — p27's posting-sliver shuffle and
  // q18's (or p36/p48's probed) scan — and the fusion runs on the
  // DRIVER over the two pool-sized rank lists (≤ 2·pool ids of
  // bounded state, the p20/p39 trainer discipline), which is where a
  // production stack fuses too: in the serving layer, after each
  // index returns its top-k. No corpus-sized data ever reaches the
  // fusion; a global rank window would funnel rows through one task
  // for nothing (PlanAuditSpec's ban). Oracle replays both arms and
  // the fusion arithmetic under one hash.
  private val rrfK = 60
  private val rrfPool = 20
  private val rrfQid = 0L

  val p49 = QuerySpec(
    "p49_hybrid_rrf",
    (s, d) => {
      import s.implicits._
      graft.expressions.VectorExpressions.register(s)
      // The two arms are INDEPENDENT distributed jobs over disjoint
      // inputs (no shared persist, so no duplicate-materialization
      // race) — submit them concurrently so the vector arm's tasks
      // back-fill executors freed by the lexical arm's tail instead of
      // waiting for it (r21, guide §2.6). Each arm's own result is as
      // deterministic as before; the fusion below sees the same two
      // rank lists in the same fixed arm order.
      // lexical arm: TakeOrdered(pool) over the shared BM25 scorer;
      // collect preserves the sort, so list position IS the rank
      val lexF = scala.concurrent.Future {
        bm25Scores(s, d)
          .filter(col("doc_id") =!= rrfQid) // the pseudo-query doc sits out both arms
          .orderBy(col("bm25").desc, col("doc_id")).limit(rrfPool)
          .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
      }(scala.concurrent.ExecutionContext.global)
      val en = documents(s, d).filter(col("lang") === "en")
        .select(col("doc_id").as("vec_id"))
      val e = embeddings(s, d).select(col("vec_id"), col("embedding"),
        expr("sqrt(float_dot(embedding, embedding))").as("nrm"))
      val q = e.filter(col("vec_id") === rrfQid)
        .select(col("embedding").as("qe"), col("nrm").as("qn"))
      val vecPool: Seq[Long] = e.join(broadcast(en), Seq("vec_id"), "left_semi")
        .filter(col("vec_id") =!= rrfQid)
        .crossJoin(broadcast(q))
        .withColumn("cos",
          round(expr("float_dot(embedding, qe)") / (col("nrm") * col("qn")), 6))
        .orderBy(col("cos").desc, col("vec_id")).limit(rrfPool)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
      val lexPool: Seq[Long] =
        scala.concurrent.Await.result(lexF, scala.concurrent.duration.Duration.Inf)
      val rl = lexPool.zipWithIndex.map { case (id, i) => id -> (i + 1) }.toMap
      val rv = vecPool.zipWithIndex.map { case (id, i) => id -> (i + 1) }.toMap
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (rl.keySet ++ rv.keySet).toSeq.map { id =>
        val a = rl.getOrElse(id, 0)
        val b = rv.getOrElse(id, 0)
        (id, a, b, r6((if (a > 0) 1.0 / (rrfK + a) else 0.0) +
          (if (b > 0) 1.0 / (rrfK + b) else 0.0)))
      }.sortBy { case (id, _, _, sc) => (-sc, id) }.take(10)
        .toDF("doc_id", "r_lex", "r_vec", "rrf")
        .orderBy(col("rrf").desc, col("doc_id"))
    },
    Some(s"""WITH $duckBm25Ctes,
            |lext AS (SELECT doc_id, bm25 FROM bm WHERE doc_id <> $rrfQid
            |         ORDER BY bm25 DESC, doc_id LIMIT $rrfPool),
            |lexr AS (SELECT doc_id,
            |           CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER) AS r_lex
            |         FROM lext),
            |f AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
            |             CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
            |n AS (SELECT vec_id, SQRT(SUM(v*v)) AS nrm FROM f GROUP BY 1),
            |env AS (SELECT doc_id AS vec_id FROM documents WHERE lang = 'en'),
            |p AS (SELECT b.vec_id, SUM(a.v * b.v) AS dot
            |      FROM f a JOIN f b ON a.i = b.i AND a.vec_id = $rrfQid AND b.vec_id <> $rrfQid
            |           JOIN env e ON e.vec_id = b.vec_id
            |      GROUP BY 1),
            |c AS (SELECT p.vec_id, ROUND(p.dot / (nq.nrm * nb.nrm), 6) AS cos
            |      FROM p JOIN n nq ON nq.vec_id = $rrfQid JOIN n nb ON nb.vec_id = p.vec_id),
            |vect AS (SELECT vec_id, cos FROM c ORDER BY cos DESC, vec_id LIMIT $rrfPool),
            |vecr AS (SELECT vec_id AS doc_id,
            |           CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS INTEGER) AS r_vec
            |         FROM vect),
            |fus AS (SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
            |               CAST(COALESCE(l.r_lex, 0) AS INTEGER) AS r_lex,
            |               CAST(COALESCE(v.r_vec, 0) AS INTEGER) AS r_vec,
            |               ROUND(
            |                 (CASE WHEN l.r_lex IS NOT NULL
            |                       THEN CAST(1 AS DOUBLE) / ($rrfK + l.r_lex) ELSE 0.0 END) +
            |                 (CASE WHEN v.r_vec IS NOT NULL
            |                       THEN CAST(1 AS DOUBLE) / ($rrfK + v.r_vec) ELSE 0.0 END), 6) AS rrf
            |        FROM lexr l FULL OUTER JOIN vecr v ON v.doc_id = l.doc_id)
            |SELECT doc_id, r_lex, r_vec, rrf FROM fus
            |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin))

  // p37 — distributed CLASSIFIER TRAINING (logistic regression via
  // batch gradient descent): the missing half of the fastText-style
  // quality-filter story — p31 infers with FIXED literal weights; here
  // the weights are LEARNED on the cluster. Exactly the p20 proven
  // shape: per iteration the current weight vector rides the plan as
  // literals, ONE corpus scan computes per-row sigmoid + error, and a
  // partial-aggregated sum reduces the gradient to 5 numbers of driver
  // state — no shuffle wider than the agg, no per-row driver traffic.
  // Label: p2's rule-based quality flag — DISTILLATION of the
  // heuristic filter into a smooth linear model (the fastText-style
  // bootstrap real curation pipelines run: heuristic/proxy labels,
  // cheap learned filter; `lang` was measured unlearnable — this
  // fixture's text vocabulary is language-independent). Features are
  // STANDARDIZED (z-scored) by corpus mean/std computed in the same
  // distributed pass — one extra partial-agg, and the GD step is then
  // well-conditioned at lr=1 (raw scales span 0.04..4.5 and diverge;
  // measured: standardized hits 94% label agreement in 3 iterations).
  // Float discipline is the p20 rule extended to GD: raw features
  // 6-dp-rounded once; means/variances/gradients summed as exact e6
  // INTEGERS (any addition order); sd = correctly-rounded IEEE sqrt;
  // per-row z and sigmoid 6-dp-rounded; the driver-side update
  // w − lr·G/(n·1e6) is a single deterministic multiply+divide
  // re-rounded to 6 dp — so the DuckDB oracle replays the identical
  // standardize→iterate trajectory with unrolled CTEs and neither
  // engine's float addition order can fork the paths. At 100 TB:
  // iterations stream the corpus (or a sample), weights are K-double
  // driver state — the same broadcast-literals/partial-agg loop as
  // the k-means trainer.
  private val lrRate = 1.0
  private val lrIters = 3

  /** p37's raw per-doc features over any `(doc_id, lang, text)` frame:
    * label y = p2's rule-based quality flag, features 6-dp-rounded
    * (mean token length, type-token ratio, en-stopword ratio, ln
    * tokens). Empty docs are excluded (no ratios to take — the p31
    * guard applied at the contract boundary). */
  private[graft] def lrFeatures(docs: DataFrame): DataFrame =
    docs.withColumn("toks", expr(toks))
      .withColumn("n_tok", size(col("toks")))
      .filter(col("n_tok") > 0)
      .withColumn("n_uniq", size(array_distinct(col("toks"))))
      .withColumn("n_stop",
        expr(TextFns.wordListCountExpr("toks", TextFns.stopwords.toMap.apply("en"))))
      .select(col("doc_id"), col("lang"),
        when(col("n_tok") >= 30 &&
          col("n_uniq").cast("double") / col("n_tok") >= 0.2 &&
          col("n_stop").cast("double") / col("n_tok") <= 0.5, 1.0)
          .otherwise(0.0).as("y"),
        round(expr(TextFns.tokenLenSumExpr("toks")).cast("double") / col("n_tok"), 6).as("x1"),
        round(col("n_uniq").cast("double") / col("n_tok"), 6).as("x2"),
        round(col("n_stop").cast("double") / col("n_tok"), 6).as("x3"),
        round(log(col("n_tok").cast("double")), 6).as("x4"))

  /** Corpus mean/std per feature (e6-integer sums → deterministic) and
    * the standardized frame. Returns (standardized feats, means, sds).
    * A zero-variance feature standardizes to 0 rather than dividing. */
  private[graft] def lrStandardize(featr: DataFrame): (DataFrame, Array[Double], Array[Double]) = {
    def r6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val xs = (1 to 4).map(j => s"x$j")
    val mRow = featr.agg(count(lit(1)).as("n"),
      xs.map(x => sum(round(col(x) * 1e6).cast("long")).as(s"s_$x")): _*).head()
    val n = mRow.getLong(0)
    val m = Array.tabulate(4)(j => r6(mRow.getLong(j + 1) / (n * 1e6)))
    val vExprs = xs.zipWithIndex.map { case (x, j) =>
      sum(round((col(x) - lit(m(j))) * (col(x) - lit(m(j))) * 1e6).cast("long")).as(s"v_$x")
    }
    val sRow = featr.agg(vExprs.head, vExprs.tail: _*).head()
    val sd = Array.tabulate(4)(j => r6(math.sqrt(r6(sRow.getLong(j) / (n * 1e6)))))
    val std = featr.select(Seq(col("doc_id"), col("lang"), col("y")) ++
      xs.zipWithIndex.map { case (x, j) =>
        (if (sd(j) == 0.0) lit(0.0)
         else round((col(x) - lit(m(j))) / lit(sd(j)), 6)).as(x)
      }: _*)
    (std, m, sd)
  }

  /** Batch-GD logistic regression over standardized features. Returns
    * the weight trajectory `traj(t)(j)`, t = 0 (zeros) .. iters, j =
    * bias +4 features. Driver state per iteration: 5 longs (exact e6
    * gradient sums) + the row count. */
  private[graft] def lrFit(feats: DataFrame, lr: Double, iters: Int): Seq[Array[Double]] = {
    val traj = Seq.newBuilder[Array[Double]]
    var w = Array.fill(5)(0.0)
    traj += w.clone()
    for (_ <- 1 to iters) {
      val z = round(lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") +
        lit(w(3)) * col("x3") + lit(w(4)) * col("x4"), 6)
      val p = round(lit(1.0) / (lit(1.0) + exp(-z)), 6)
      val e = p - col("y")
      val r = feats.agg(
        count(lit(1)).as("n"),
        sum(round(e * 1e6).cast("long")).as("g0"),
        sum(round(e * col("x1") * 1e6).cast("long")).as("g1"),
        sum(round(e * col("x2") * 1e6).cast("long")).as("g2"),
        sum(round(e * col("x3") * 1e6).cast("long")).as("g3"),
        sum(round(e * col("x4") * 1e6).cast("long")).as("g4")).head()
      val n = r.getLong(0)
      require(n > 0, "p37 training needs a non-empty feature frame")
      // the update arithmetic mirrors the oracle token-for-token:
      // (lr * G) / (n * 1e6), one multiply + one divide, then re-round
      w = Array.tabulate(5)(j =>
        BigDecimal(w(j) - lr * r.getLong(j + 1) / (n * 1e6))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      traj += w.clone()
    }
    traj.result()
  }

  /** DuckDB rendering of [[lrFeatures]] + [[lrStandardize]] ending in
    * `feat(doc_id, lang, y, x1..x4)` (standardized) + `nn(n)`. */
  private def duckLrFeatCtes: String = {
    val en = TextFns.stopwords.toMap.apply("en").map(w => s"'$w'").mkString(", ")
    val xs = (1 to 4).map(j => s"x$j")
    val means = xs.map(x =>
      s"ROUND(SUM(CAST(ROUND($x * 1e6) AS BIGINT)) / (COUNT(*) * 1e6), 6) AS m_$x").mkString(",\n       |          ")
    val vars_ = xs.map(x =>
      s"ROUND(SQRT(ROUND(SUM(CAST(ROUND((f.$x - m.m_$x) * (f.$x - m.m_$x) * 1e6) AS BIGINT)) / (COUNT(*) * 1e6), 6)), 6) AS s_$x").mkString(",\n       |          ")
    val stdCols = xs.map(x =>
      s"CASE WHEN s.s_$x = 0 THEN 0.0 ELSE ROUND((f.$x - m.m_$x) / s.s_$x, 6) END AS $x").mkString(",\n       |           ")
    s"""fbase AS (SELECT doc_id, lang, $duckToks AS toks FROM documents),
       |feat0 AS (SELECT doc_id, lang, len(toks) AS n_tok,
       |                 list_sum(list_transform(toks, t -> length(t))) AS len_sum,
       |                 len(list_distinct(toks)) AS n_uniq,
       |                 list_sum(list_transform(toks, t -> CASE WHEN t IN ($en) THEN 1 ELSE 0 END)) AS n_stop
       |          FROM fbase WHERE len(toks) > 0),
       |featr AS (SELECT doc_id, lang,
       |           CASE WHEN n_tok >= 30 AND CAST(n_uniq AS DOUBLE)/n_tok >= 0.2
       |                     AND CAST(n_stop AS DOUBLE)/n_tok <= 0.5
       |                THEN 1.0 ELSE 0.0 END AS y,
       |           ROUND(CAST(len_sum AS DOUBLE) / n_tok, 6) AS x1,
       |           ROUND(CAST(n_uniq AS DOUBLE) / n_tok, 6) AS x2,
       |           ROUND(CAST(n_stop AS DOUBLE) / n_tok, 6) AS x3,
       |           ROUND(LN(CAST(n_tok AS DOUBLE)), 6) AS x4
       |         FROM feat0),
       |stat_m AS (SELECT $means
       |        FROM featr),
       |stat_s AS (SELECT $vars_
       |        FROM featr f CROSS JOIN stat_m m),
       |feat AS (SELECT doc_id, lang, y,
       |           $stdCols
       |         FROM featr f CROSS JOIN stat_m m CROSS JOIN stat_s s),
       |nn AS (SELECT COUNT(*) AS n FROM feat),
       |w0_ AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3, 0.0 AS w4)""".stripMargin
  }

  /** One unrolled GD iteration t (1-based): per-row sigmoid under
    * w(t−1), e6-integer gradient sums, re-rounded weight update. The
    * z/sigmoid/gradient expressions are grouped token-for-token like
    * the Spark side so IEEE evaluation is identical. */
  private def duckLrIter(t: Int): String =
    s"""pp$t AS (SELECT y, x1, x2, x3, x4,
       |          ROUND(1.0 / (1.0 + EXP(-ROUND(w.w0 + w.w1*x1 + w.w2*x2 + w.w3*x3 + w.w4*x4, 6))), 6) AS p
       |        FROM feat CROSS JOIN w${t - 1}_ w),
       |g$t AS (SELECT SUM(CAST(ROUND((p - y) * 1e6) AS BIGINT)) AS g0,
       |               SUM(CAST(ROUND((p - y) * x1 * 1e6) AS BIGINT)) AS g1,
       |               SUM(CAST(ROUND((p - y) * x2 * 1e6) AS BIGINT)) AS g2,
       |               SUM(CAST(ROUND((p - y) * x3 * 1e6) AS BIGINT)) AS g3,
       |               SUM(CAST(ROUND((p - y) * x4 * 1e6) AS BIGINT)) AS g4
       |        FROM pp$t),
       |w${t}_ AS (SELECT ROUND(w.w0 - $lrRate * g.g0 / (n.n * 1e6), 6) AS w0,
       |                  ROUND(w.w1 - $lrRate * g.g1 / (n.n * 1e6), 6) AS w1,
       |                  ROUND(w.w2 - $lrRate * g.g2 / (n.n * 1e6), 6) AS w2,
       |                  ROUND(w.w3 - $lrRate * g.g3 / (n.n * 1e6), 6) AS w3,
       |                  ROUND(w.w4 - $lrRate * g.g4 / (n.n * 1e6), 6) AS w4
       |           FROM w${t - 1}_ w CROSS JOIN g$t g CROSS JOIN nn n)""".stripMargin

  private def duckLrPrefix: String =
    s"""WITH $duckLrFeatCtes,
       |${(1 to lrIters).map(duckLrIter).mkString(",\n")}""".stripMargin

  val p37 = QuerySpec(
    "p37_classifier_train",
    (s, d) => {
      import s.implicits._
      val featr = lrFeatures(documents(s, d)).persist() // stats pass + standardize
      val (std, _, _) = lrStandardize(featr)
      val feats = std.persist() // scanned ×iters
      val traj = lrFit(feats, lrRate, lrIters)
      feats.unpersist(); featr.unpersist()
      traj.zipWithIndex.drop(1)
        .map { case (w, t) => (t, w(0), w(1), w(2), w(3), w(4)) }
        .toDF("iter", "w0", "w1", "w2", "w3", "w4")
        .orderBy(col("iter"))
    },
    Some(s"""$duckLrPrefix
            |${(1 to lrIters).map(t =>
               s"SELECT CAST($t AS INTEGER) AS iter, w0, w1, w2, w3, w4 FROM w${t}_")
               .mkString("\nUNION ALL\n")}
            |ORDER BY iter""".stripMargin))

  // p37b — inference under the TRAINED weights (the r16 verdict's "then
  // p31 re-run on the TRAINED weights"): train on the cluster, score
  // every doc with the learned model, roll up the per-language keep
  // decision. The oracle replays the full trajectory THEN infers, so
  // train→deploy composes under one hash. The rollup mirrors p31's
  // e6-integer mean discipline.
  val p37b = QuerySpec(
    "p37b_classifier_trained_infer",
    (s, d) => {
      val featr = lrFeatures(documents(s, d)).persist() // stats pass + standardize
      val (std, _, _) = lrStandardize(featr)
      val feats = std.persist() // training ×iters + scoring
      val w = lrFit(feats, lrRate, lrIters).last
      val scored = feats
        .withColumn("z", round(lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") +
          lit(w(3)) * col("x3") + lit(w(4)) * col("x4"), 6))
        .withColumn("score", round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6))
      scored.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("score") >= 0.5, 1L).otherwise(0L)).as("n_keep"),
          round(sum(round(col("score") * 1e6).cast("long")).cast("double") /
            (count(lit(1)) * 1e6), 6).as("mean_score"),
          min(col("score")).as("min_score"),
          max(col("score")).as("max_score"))
        .orderBy(col("lang"))
    },
    Some(s"""$duckLrPrefix,
            |inf AS (SELECT f.lang,
            |          ROUND(1.0 / (1.0 + EXP(-ROUND(w.w0 + w.w1*x1 + w.w2*x2 + w.w3*x3 + w.w4*x4, 6))), 6) AS score
            |        FROM feat f CROSS JOIN w${lrIters}_ w)
            |SELECT lang, COUNT(*) AS n_docs,
            |       CAST(SUM(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
            |       ROUND(CAST(SUM(CAST(ROUND(score * 1e6) AS BIGINT)) AS DOUBLE)
            |             / (COUNT(*) * 1e6), 6) AS mean_score,
            |       MIN(score) AS min_score, MAX(score) AS max_score
            |FROM inf GROUP BY lang ORDER BY lang""".stripMargin))

  // p38 — PARAGRAPH-granularity near-dup (the C4/RefinedWeb shape:
  // real pipelines dedup paragraphs, not just documents — boilerplate
  // repeats at sub-document granularity). p6's MinHash-LSH pipeline
  // re-keyed from doc_id to (doc_id, para_idx): paragraphs here are
  // fixed 32-token windows (this fixture's text carries no paragraph
  // delimiter — delimiter-split is the same plan with a split()
  // generator instead of the slice transform), each paragraph gets its
  // own 8-hash signature, bands are equi-joined on band value with the
  // composite (da,pa) < (db,pb) self-dedup, and candidates verify by
  // exact 3-shingle Jaccard ≥ 0.8 — catching both cross-doc AND
  // intra-doc repeated paragraphs. The oracle replays the LSH (bands
  // included), so recall loss is mirrored, never hidden — the p6
  // convention. Scale shape identical to p6: paragraph count is
  // O(corpus tokens / span); candidates come from the band equi-join,
  // never an all-pairs product; the verify join starts from the tiny
  // candidate side.
  private val paraSpan = 32

  val p38 = QuerySpec(
    "p38_paragraph_neardup",
    (s, d) => {
      val paras = documents(s, d)
        .withColumn("toks", expr(toks))
        .select(col("doc_id"), posexplode(expr(
          // CASE guards sequence(0, -1) on empty docs (backward range)
          s"""CASE WHEN size(toks) = 0 THEN CAST(array() AS ARRAY<ARRAY<STRING>>)
             |     ELSE transform(sequence(0, CAST(ceil(size(toks) / $paraSpan.0) AS INT) - 1),
             |                    k -> slice(toks, k * $paraSpan + 1, $paraSpan))
             |END""".stripMargin)).as(Seq("pidx", "ptoks")))
        .withColumn("sh", expr(TextFns.shinglesExpr("ptoks")))
        .select(col("doc_id"), col("pidx"), col("sh"))
        .persist() // reused: signatures + the exact-Jaccard verify
      // md5 base hashes behind their own cache boundary (the p6/p30
      // projection-collapse lesson: 16× the hashing otherwise)
      val hsF = paras.withColumn("hs", expr(TextFns.md5IntsExpr("sh")))
        .select(col("doc_id"), col("pidx"), col("hs"))
        .persist()
      val sig = hsF.select(Seq(col("doc_id"), col("pidx")) ++
        (0 until 8).map(k => expr(TextFns.minhashExpr("hs", k)).as(s"mh$k")): _*)
      val bands = sig.select(col("doc_id"), col("pidx"), explode(array(
          struct(lit(0).as("band_id"),
            concat(col("mh0"), lit("|"), col("mh1"), lit("|"), col("mh2"), lit("|"), col("mh3")).as("band_val")),
          struct(lit(1).as("band_id"),
            concat(col("mh4"), lit("|"), col("mh5"), lit("|"), col("mh6"), lit("|"), col("mh7")).as("band_val")))).as("b"))
        .select(col("doc_id"), col("pidx"),
          col("b.band_id").as("band_id"), col("b.band_val").as("band_val"))
        .persist()
      val a = bands.select(col("doc_id").as("da"), col("pidx").as("pa"),
        col("band_id"), col("band_val"))
      val b = bands.select(col("doc_id").as("db"), col("pidx").as("pb"),
        col("band_id").as("bi2"), col("band_val").as("bv2"))
      val cand = a.join(b,
          col("band_id") === col("bi2") && col("band_val") === col("bv2") &&
            (col("da") < col("db") || (col("da") === col("db") && col("pa") < col("pb"))))
        .select(col("da"), col("pa"), col("db"), col("pb")).distinct()
      val ss = paras.select(col("doc_id"), col("pidx"),
        explode(array_distinct(col("sh"))).as("s")).persist()
      val sz = ss.groupBy(col("doc_id"), col("pidx")).agg(count(lit(1)).as("n"))
      val ssa = ss.select(col("doc_id").as("da"), col("pidx").as("pa"), col("s"))
      val ssb = ss.select(col("doc_id").as("db2"), col("pidx").as("pb2"), col("s").as("s2"))
      val inter = cand
        .join(ssa, Seq("da", "pa"))
        .join(ssb, col("db") === col("db2") && col("pb") === col("pb2") && col("s") === col("s2"))
        .groupBy(col("da"), col("pa"), col("db"), col("pb")).agg(count(lit(1)).as("inter"))
      val sza = sz.select(col("doc_id").as("da"), col("pidx").as("pa"), col("n").as("na"))
      val szb = sz.select(col("doc_id").as("db"), col("pidx").as("pb"), col("n").as("nb"))
      inter.join(sza, Seq("da", "pa")).join(szb, Seq("db", "pb"))
        .filter(col("inter").cast("double") / (col("na") + col("nb") - col("inter")) >= 0.8)
        .select(col("da"), col("pa"), col("db"), col("pb"),
          round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 6).as("jaccard"))
        .orderBy(col("da"), col("pa"), col("db"), col("pb"))
    },
    Some {
      val mhs = (0 until 8).map(k =>
        s"${TextFns.minhashSqlDuck("hs", k)} AS mh$k").mkString(",\n       ")
      val pSh =
        "list_transform(range(greatest(len(ptoks)-2, 0)), i -> ptoks[i+1] || ' ' || ptoks[i+2] || ' ' || ptoks[i+3])"
      s"""WITH base AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |paras AS (SELECT doc_id, k AS pidx, list_slice(toks, k*$paraSpan+1, (k+1)*$paraSpan) AS ptoks
         |          FROM base, UNNEST(range(CAST(CEIL(len(toks)/$paraSpan.0) AS BIGINT))) AS u(k)),
         |shs AS (SELECT doc_id, pidx, $pSh AS sh FROM paras),
         |hsd AS (SELECT doc_id, pidx, sh, ${TextFns.md5IntsSqlDuck("sh")} AS hs FROM shs),
         |sig AS (SELECT doc_id, pidx, $mhs FROM hsd),
         |bands AS (
         |  SELECT doc_id, pidx, 0 AS band_id, mh0 || '|' || mh1 || '|' || mh2 || '|' || mh3 AS band_val FROM sig
         |  UNION ALL
         |  SELECT doc_id, pidx, 1, mh4 || '|' || mh5 || '|' || mh6 || '|' || mh7 FROM sig),
         |cand AS (SELECT DISTINCT a.doc_id AS da, a.pidx AS pa, b.doc_id AS db, b.pidx AS pb
         |         FROM bands a JOIN bands b
         |           ON a.band_id = b.band_id AND a.band_val = b.band_val
         |          AND (a.doc_id < b.doc_id OR (a.doc_id = b.doc_id AND a.pidx < b.pidx))),
         |ss AS (SELECT DISTINCT doc_id, pidx, unnest(sh) AS s FROM shs),
         |sz AS (SELECT doc_id, pidx, COUNT(*) AS n FROM ss GROUP BY 1, 2),
         |ix AS (SELECT da, pa, db, pb, COUNT(*) AS inter
         |       FROM cand JOIN ss x ON x.doc_id = da AND x.pidx = pa
         |                 JOIN ss y ON y.doc_id = db AND y.pidx = pb AND y.s = x.s
         |       GROUP BY 1, 2, 3, 4),
         |pairs AS (SELECT da, pa, db, pb, CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
         |          FROM ix JOIN sz sa ON sa.doc_id = da AND sa.pidx = pa
         |                  JOIN sz sb ON sb.doc_id = db AND sb.pidx = pb
         |          WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8)
         |SELECT da, CAST(pa AS INTEGER) AS pa, db, CAST(pb AS INTEGER) AS pb,
         |       ROUND(jaccard, 6) AS jaccard
         |FROM pairs ORDER BY da, pa, db, pb""".stripMargin
    })

  // p34b — BIGRAM perplexity (the LM upgrade of p34's unigram form,
  // much closer to the CCNet/KenLM signal while staying a pure SQL
  // replay): p(w_i | w_{i-1}) = (c(w_{i-1} w_i) + 1) / (c1(w_{i-1}) +
  // V) with add-1 smoothing (V = unigram vocab), and the document's
  // first token priced by the unigram model (p34's formula) — so every
  // token contributes exactly one log-prob and n_tok matches p34.
  // Shape: TWO dictionary aggs (unigram + bigram counts, both
  // map-side-partial, vocabulary-sized output), then the token/bigram
  // instances equi-join their dictionary entries — the bigram
  // dictionary is corpus-sized in the worst case, so it is a plain
  // shuffle equi-join on the bigram key (NOT broadcast — the p34
  // unigram broadcast doesn't survive vocab²), the context count joins
  // on w1, and ONE doc-keyed agg sums the e6-integer log-probs (p34's
  // determinism discipline). At 100 TB all three joins key on
  // token/bigram strings — bucketable, skew-salted if a stopword
  // bigram dominates; nothing is all-pairs.
  val p34b = QuerySpec(
    "p34b_bigram_ppl",
    (s, d) => {
      val base = documents(s, d).filter(col("lang") === "en")
        .withColumn("toks", expr(toks))
        .select(col("doc_id"), col("toks"))
        .persist() // reused: unigram dict, bigram dict, firsts, instances
      val uni = base.select(explode(col("toks")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val stats = uni.agg(sum(col("c")).as("nu"), count(lit(1)).as("v"))
      val firsts = base.filter(size(col("toks")) >= 1)
        .select(col("doc_id"), col("toks").getItem(0).as("tok"))
      val lp1 = firsts
        .join(uni, "tok")
        .crossJoin(broadcast(stats))
        .select(col("doc_id"),
          round(log((col("c") + 1.0) / (col("nu") + col("v"))) * 1e6).cast("long").as("lp_e6"))
      val bg = base
        .select(col("doc_id"), col("toks"),
          posexplode(expr(TextFns.shinglesExpr("toks", 2))).as(Seq("i", "big")))
        .select(col("doc_id"), col("toks").getItem(col("i")).as("w1"), col("big"))
      val bgc = bg.groupBy(col("big")).agg(count(lit(1)).as("c2"))
      val lp2 = bg
        .join(bgc, "big")
        .join(uni.select(col("tok").as("w1"), col("c").as("c1")), "w1")
        .crossJoin(broadcast(stats))
        .select(col("doc_id"),
          round(log((col("c2") + 1.0) / (col("c1") + col("v"))) * 1e6).cast("long").as("lp_e6"))
      lp1.unionByName(lp2)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"),
          round(-(sum(col("lp_e6")).cast("double") / 1e6) /
            count(lit(1)), 6).as("xent"))
        .withColumn("ppl", round(exp(col("xent")), 2))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH base AS (SELECT doc_id, $duckToks AS toks FROM documents WHERE lang = 'en'),
            |uni AS (SELECT tok, COUNT(*) AS c
            |        FROM (SELECT unnest(toks) AS tok FROM base) GROUP BY 1),
            |stats AS (SELECT CAST(SUM(c) AS BIGINT) AS nu, COUNT(*) AS v FROM uni),
            |firsts AS (SELECT doc_id, toks[1] AS tok FROM base WHERE len(toks) >= 1),
            |lp1 AS (SELECT doc_id,
            |          CAST(ROUND(LN((c + 1.0) / (nu + v)) * 1e6) AS BIGINT) AS lp_e6
            |        FROM firsts JOIN uni ON uni.tok = firsts.tok CROSS JOIN stats),
            |bg AS (SELECT doc_id, toks[i+1] AS w1, toks[i+1] || ' ' || toks[i+2] AS big
            |       FROM base, UNNEST(range(greatest(len(toks)-1, 0))) AS u(i)),
            |bgc AS (SELECT big, COUNT(*) AS c2 FROM bg GROUP BY 1),
            |lp2 AS (SELECT bg.doc_id,
            |          CAST(ROUND(LN((c2 + 1.0) / (c1 + v)) * 1e6) AS BIGINT) AS lp_e6
            |        FROM bg JOIN bgc USING (big)
            |                JOIN (SELECT tok AS w1, c AS c1 FROM uni) u USING (w1)
            |                CROSS JOIN stats),
            |allx AS (SELECT * FROM lp1 UNION ALL SELECT * FROM lp2)
            |SELECT doc_id, COUNT(*) AS n_tok,
            |       ROUND(-(CAST(SUM(lp_e6) AS DOUBLE) / 1e6) / COUNT(*), 6) AS xent,
            |       ROUND(EXP(ROUND(-(CAST(SUM(lp_e6) AS DOUBLE) / 1e6) / COUNT(*), 6)), 2) AS ppl
            |FROM allx GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  // p34c — STUPID-BACKOFF TRIGRAM LM (the Brants et al. 2007 "Large
  // Language Models in Machine Translation" scorer — what CCNet-class
  // pipelines actually approximate when KenLM is too heavy): score
  // S(w|w₋₂w₋₁) = c₃/c₂(ctx) if the trigram was seen, else
  // α·c₂/c₁(w₋₁), else α²·S₁(w), α = 0.4, with the unigram floor
  // add-1 smoothed so out-of-vocabulary tokens stay finite. Unlike
  // p34/p34b (LM trained on the scored corpus itself, so every n-gram
  // is in-dictionary and backoff would be dead code), the dictionaries
  // here are TRAINED ON HALF the corpus (even doc_ids) and ALL docs
  // are scored — held-out docs exercise every backoff level, and the
  // gate carries per-doc backoff-level counts as the witness. Shape:
  // three dictionary aggs (uni/bi/tri, map-side partial, vocab-sized);
  // the position frame LEFT-joins tri/bi/bi-context on n-gram string
  // keys as plain shuffle equi-joins (the p34b rule — n-gram dicts
  // don't survive broadcast at vocabⁿ) while the two unigram lookups
  // broadcast; ONE doc-keyed agg sums e6-integer log-scores (p34's
  // determinism discipline — ln of identical double divisions, summed
  // as exact integers, addition order free). At 100 TB everything keys
  // on n-gram strings — bucketable, skew-salted if a stopword n-gram
  // dominates; nothing is all-pairs.
  val p34c = QuerySpec(
    "p34c_backoff_trigram",
    (s, d) => {
      val base = documents(s, d).filter(col("lang") === "en")
        .withColumn("toks", expr(toks))
        .select(col("doc_id"), col("toks"))
        .persist() // reused: three dictionaries + the position frame.
        // Deliberately NOT unpersisted here: the returned frame is
        // lazy, so the cache must outlive this builder; Verify/Bench
        // clearCache() after consuming each query (house style for
        // every persist inside a QuerySpec lambda).
      val train = base.filter(col("doc_id") % 2 === 0)
      val uni = train.select(explode(col("toks")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val stats = uni.agg(sum(col("c")).as("nu"), count(lit(1)).as("v"))
      val bi = train.select(explode(expr(TextFns.shinglesExpr("toks", 2))).as("big"))
        .groupBy(col("big")).agg(count(lit(1)).as("c2"))
      val tri = train.select(explode(expr(TextFns.shinglesExpr("toks", 3))).as("trg"))
        .groupBy(col("trg")).agg(count(lit(1)).as("c3"))
      val pos = base
        .select(col("doc_id"), col("toks"), posexplode(col("toks")).as(Seq("i", "w")))
        .select(col("doc_id"), col("i"), col("w"),
          when(col("i") >= 1, expr("toks[i-1]")).as("w1"),
          when(col("i") >= 2, expr("toks[i-2]")).as("w2"))
      val j = pos
        .join(tri, col("i") >= 2 &&
          tri("trg") === concat_ws(" ", col("w2"), col("w1"), col("w")), "left")
        .join(bi.as("b"), col("i") >= 1 &&
          col("b.big") === concat_ws(" ", col("w1"), col("w")), "left")
        .join(bi.select(col("big").as("bctx"), col("c2").as("c2ctx")),
          col("i") >= 2 && col("bctx") === concat_ws(" ", col("w2"), col("w1")), "left")
        .join(broadcast(uni.select(col("tok").as("w1j"), col("c").as("c1ctx"))),
          col("w1j") === col("w1"), "left")
        .join(broadcast(uni.select(col("tok").as("wj"), col("c").as("c1w"))),
          col("wj") === col("w"), "left")
        .crossJoin(broadcast(stats))
      val lnUni = log((coalesce(col("c1w"), lit(0L)) + 1.0) / (col("nu") + col("v")))
      val lnA = log(expr("CAST(0.4 AS DOUBLE)"))
      val lp = when(col("i") === 0, lnUni)
        .when(col("i") === 1,
          when(col("c2").isNotNull, log(col("c2") / col("c1ctx")))
            .otherwise(lnA + lnUni))
        .otherwise(
          when(col("c3").isNotNull, log(col("c3") / col("c2ctx")))
            .when(col("c2").isNotNull, lnA + log(col("c2") / col("c1ctx")))
            .otherwise(lit(2) * lnA + lnUni))
      j.select(col("doc_id"),
          round(lp * 1e6).cast("long").as("lp_e6"),
          when(col("i") >= 2 && col("c3").isNotNull, 1).otherwise(0).as("tri_hit"),
          when(col("i") >= 2 && col("c3").isNull && col("c2").isNotNull, 1).otherwise(0).as("bi_back"),
          when(col("i") >= 2 && col("c3").isNull && col("c2").isNull, 1).otherwise(0).as("uni_back"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"),
          sum(col("tri_hit")).cast("long").as("n_tri_hit"),
          sum(col("bi_back")).cast("long").as("n_bi_back"),
          sum(col("uni_back")).cast("long").as("n_uni_back"),
          round(-(sum(col("lp_e6")).cast("double") / 1e6) /
            count(lit(1)), 6).as("xent"))
        .withColumn("ppl", round(exp(col("xent")), 2))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH base AS (SELECT doc_id, $duckToks AS toks FROM documents WHERE lang = 'en'),
            |tr AS (SELECT doc_id, toks FROM base WHERE doc_id % 2 = 0),
            |uni AS (SELECT tok, COUNT(*) AS c
            |        FROM (SELECT unnest(toks) AS tok FROM tr) GROUP BY 1),
            |stats AS (SELECT CAST(SUM(c) AS BIGINT) AS nu, COUNT(*) AS v FROM uni),
            |bi AS (SELECT big, COUNT(*) AS c2 FROM (
            |         SELECT toks[i+1] || ' ' || toks[i+2] AS big
            |         FROM tr, UNNEST(range(greatest(len(toks)-1, 0))) AS u(i)) GROUP BY 1),
            |tri AS (SELECT trg, COUNT(*) AS c3 FROM (
            |         SELECT toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] AS trg
            |         FROM tr, UNNEST(range(greatest(len(toks)-2, 0))) AS u(i)) GROUP BY 1),
            |pos AS (SELECT doc_id, i, toks[i+1] AS w,
            |               CASE WHEN i >= 1 THEN toks[i] END AS w1,
            |               CASE WHEN i >= 2 THEN toks[i-1] END AS w2
            |        FROM base, UNNEST(range(len(toks))) AS u(i)),
            |j AS (SELECT p.doc_id, p.i, t.c3, b.c2, bc.c2 AS c2ctx, u1.c AS c1ctx, uw.c AS c1w
            |      FROM pos p
            |      LEFT JOIN tri t ON p.i >= 2 AND t.trg = p.w2 || ' ' || p.w1 || ' ' || p.w
            |      LEFT JOIN bi b ON p.i >= 1 AND b.big = p.w1 || ' ' || p.w
            |      LEFT JOIN bi bc ON p.i >= 2 AND bc.big = p.w2 || ' ' || p.w1
            |      LEFT JOIN uni u1 ON u1.tok = p.w1
            |      LEFT JOIN uni uw ON uw.tok = p.w),
            |sc AS (SELECT doc_id,
            |         CAST(ROUND((CASE
            |           WHEN i = 0 THEN LN((COALESCE(c1w, 0) + 1.0) / (nu + v))
            |           WHEN i = 1 THEN CASE
            |             WHEN c2 IS NOT NULL THEN LN(c2 / c1ctx)
            |             ELSE LN(CAST(0.4 AS DOUBLE)) + LN((COALESCE(c1w, 0) + 1.0) / (nu + v)) END
            |           ELSE CASE
            |             WHEN c3 IS NOT NULL THEN LN(c3 / c2ctx)
            |             WHEN c2 IS NOT NULL THEN LN(CAST(0.4 AS DOUBLE)) + LN(c2 / c1ctx)
            |             ELSE 2 * LN(CAST(0.4 AS DOUBLE)) + LN((COALESCE(c1w, 0) + 1.0) / (nu + v)) END
            |         END) * 1e6) AS BIGINT) AS lp_e6,
            |         CASE WHEN i >= 2 AND c3 IS NOT NULL THEN 1 ELSE 0 END AS tri_hit,
            |         CASE WHEN i >= 2 AND c3 IS NULL AND c2 IS NOT NULL THEN 1 ELSE 0 END AS bi_back,
            |         CASE WHEN i >= 2 AND c3 IS NULL AND c2 IS NULL THEN 1 ELSE 0 END AS uni_back
            |       FROM j CROSS JOIN stats)
            |SELECT doc_id, COUNT(*) AS n_tok,
            |       CAST(SUM(tri_hit) AS BIGINT) AS n_tri_hit,
            |       CAST(SUM(bi_back) AS BIGINT) AS n_bi_back,
            |       CAST(SUM(uni_back) AS BIGINT) AS n_uni_back,
            |       ROUND(-(CAST(SUM(lp_e6) AS DOUBLE) / 1e6) / COUNT(*), 6) AS xent,
            |       ROUND(EXP(ROUND(-(CAST(SUM(lp_e6) AS DOUBLE) / 1e6) / COUNT(*), 6)), 2) AS ppl
            |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  // p39 — BPE TOKENIZER TRAINING (merge learning): the other half of
  // the tokenizer story (p1 counts with a BPE-ish regex; here the
  // merge table itself is LEARNED). The real-trainer shape
  // (HuggingFace/SentencePiece BPE): ONE corpus agg builds the word
  // dictionary with multiplicities, then every iteration works on the
  // DICTIONARY (vocabulary-sized, not corpus-sized) — adjacent-symbol
  // pair counts weighted by word frequency, argmax pair (count desc,
  // pair asc tiebreak — both engines deterministic), fuse it
  // everywhere, repeat. Driver state per iteration: ONE merge rule —
  // the learned tokenizer is the collected merge list, the p20/p37
  // broadcast-literals template with integer-only arithmetic (no float
  // discipline needed at all). Merge application is a single
  // left-to-right replace() pass over the space-separated symbol
  // string per iteration — Spark's replace and DuckDB's replace share
  // the scan-continue-after-replacement semantics, so both engines
  // fuse identical positions (NOTE: for an odd-length run of the same
  // symbol this deviates from strict greedy BPE at the third repeat —
  // a documented convention, identical in both engines, not a fork).
  // At 100 TB only the dictionary build touches the corpus; iterations
  // cost O(vocab) each and the pair agg is map-side-partial.
  private val bpeIters = 4

  /** The p39 BPE trainer: returns the final merged dictionary
    * `(w, c, r)` (persisted — callers that only need the merge list
    * unpersist it) plus the learned merge table. */
  private[graft] def bpeTrain(s: SparkSession, d: String): (DataFrame, Seq[(Int, String, String, Long)]) = {
    val dict0 = documents(s, d).filter(col("lang") === "en")
      .select(explode(expr(toks)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .withColumn("r", concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 ")))
      .persist() // the corpus is touched once; iterations reuse this
    var dict = dict0
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (t <- 1 to bpeIters) {
      val top = dict
        .withColumn("sy", expr("filter(split(trim(r), ' '), x -> x <> '')"))
        .select(col("c"), explode(expr(TextFns.shinglesExpr("sy", 2))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("c")).as("total"))
        .orderBy(col("total").desc, col("pair"))
        .limit(1).collect()
      require(top.nonEmpty, s"[graft] p39 iteration $t found no adjacent pairs — " +
        "the vocabulary needs at least one multi-symbol word")
      val pair = top(0).getString(0)
      val total = top(0).getLong(1)
      val merged = pair.replace(" ", "")
      merges += ((t, pair, merged, total))
      val prev = dict
      dict = prev.withColumn("r",
          replace(col("r"), lit(s" $pair "), lit(s" $merged ")))
        .persist()
      dict.count() // materialize before dropping the parent cache
      if (prev ne dict0) prev.unpersist()
    }
    dict0.unpersist()
    (dict, merges.result())
  }

  val p39 = QuerySpec(
    "p39_bpe_merges",
    (s, d) => {
      import s.implicits._
      val (dict, merges) = bpeTrain(s, d)
      dict.unpersist() // merge table already on the driver
      merges.toDF("iter", "pair", "merged", "n").orderBy(col("iter"))
    },
    Some {
      val out = (1 to bpeIters).map(t =>
        s"SELECT CAST($t AS INTEGER) AS iter, pair, replace(pair, ' ', '') AS merged, total AS n FROM m$t")
        .mkString("\nUNION ALL\n")
      s"""WITH $duckBpePrefix
         |$out
         |ORDER BY iter""".stripMargin
    })

  /** DuckDB rendering of [[bpeTrain]]: word dictionary + $bpeIters
    * unrolled merge iterations, ending in the fused dictionary
    * `d$bpeIters(w, c, r)` and per-iteration argmaxes `m1..m$bpeIters`. */
  private def duckBpePrefix: String = {
    def prevD(t: Int) = if (t == 1) "d0" else s"d${t - 1}"
    val iters = (1 to bpeIters).map { t =>
      s"""pr$t AS (SELECT q.pair, CAST(SUM(q.c) AS BIGINT) AS total FROM (
         |         SELECT z.c, z.sy[i+1] || ' ' || z.sy[i+2] AS pair FROM (
         |           SELECT c, list_filter(string_split(trim(r), ' '), x -> x <> '') AS sy
         |           FROM ${prevD(t)}) z,
         |           UNNEST(range(greatest(len(z.sy)-1, 0))) AS u(i)) q
         |        GROUP BY 1),
         |m$t AS (SELECT pair, total FROM pr$t ORDER BY total DESC, pair LIMIT 1),
         |d$t AS (SELECT w, c, replace(r,
         |          ' ' || (SELECT pair FROM m$t) || ' ',
         |          ' ' || replace((SELECT pair FROM m$t), ' ', '') || ' ') AS r
         |        FROM ${prevD(t)})""".stripMargin
    }.mkString(",\n")
    s"""tok AS (SELECT unnest($duckToks) AS w FROM documents WHERE lang = 'en'),
       |d0 AS (SELECT w, COUNT(*) AS c,
       |         ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS r
       |       FROM tok GROUP BY w),
       |$iters""".stripMargin
  }

  // p39b — TOKENIZE under the TRAINED merges (tokenizer train→deploy,
  // the p37b/p40b precedent): fit the merge table on the cluster, then
  // tokenize EVERY doc with it and report per-doc symbol counts and
  // the compression the learned merges bought. Inference is exactly
  // what a production BPE tokenizer does at scale: the trained
  // vocabulary (word → fused symbol repr, vocabulary-sized) BROADCASTS
  // into a map-side join against the token instances — the corpus
  // never shuffles for lookup — and ONE doc-keyed partial agg sums
  // n_chars (symbols before merging) and n_sym (after). The oracle
  // replays the full dictionary-iteration training THEN tokenizes, so
  // train→deploy composes under one hash; all sums are integers, the
  // compression ratio is one deterministic division of exact ints.
  val p39b = QuerySpec(
    "p39b_bpe_tokenize",
    (s, d) => {
      val (dict, _) = bpeTrain(s, d)
      val sym = dict.select(col("w"),
        size(expr("filter(split(trim(r), ' '), x -> x <> '')")).as("ns"))
      documents(s, d).filter(col("lang") === "en")
        .select(col("doc_id"), explode(expr(toks)).as("w"))
        .join(broadcast(sym), "w")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(length(col("w"))).as("n_chars"),
          sum(col("ns")).as("n_sym"),
          round(sum(length(col("w"))).cast("double") / sum(col("ns")), 6).as("compression"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH $duckBpePrefix,
            |base AS (SELECT doc_id, $duckToks AS toks FROM documents WHERE lang = 'en'),
            |ti AS (SELECT doc_id, unnest(toks) AS w FROM base),
            |sym AS (SELECT w, len(list_filter(string_split(trim(r), ' '), x -> x <> '')) AS ns
            |        FROM d$bpeIters)
            |SELECT t.doc_id, COUNT(*) AS n_words,
            |       CAST(SUM(length(t.w)) AS BIGINT) AS n_chars,
            |       CAST(SUM(s.ns) AS BIGINT) AS n_sym,
            |       ROUND(CAST(SUM(length(t.w)) AS BIGINT) / CAST(SUM(s.ns) AS BIGINT), 6) AS compression
            |FROM ti t JOIN sym s ON s.w = t.w
            |GROUP BY 1 ORDER BY 1""".stripMargin))

  // p40 — distributed PCA: the DOMINANT PRINCIPAL COMPONENT of the
  // embedding corpus via power iteration — the third trainer family
  // (k-means p20 = geometry, logistic regression p37 = supervised,
  // PCA = spectral). Real pipelines run this for embedding whitening,
  // ANN residual rotation, and drift monitoring. Shape is the proven
  // p20/p37 template: ONE corpus pass computes the per-dim mean
  // (e6-integer sums, 64-key partial agg); the centered corpus is
  // cached; each iteration rides the current direction v as literals
  // through a single scan — per-row dot ds = Σ round(cv·v·1e6) (exact
  // integer fold, order-free), then ONE 64-key partial agg reduces
  // g_i = Σ_rows round(cv_i·(ds/1e6)·1e6) — and the driver holds 64
  // doubles: u = round(g/(n·1e6)), λ = round(√(Σ round(u²·1e12)/1e12))
  // (the Rayleigh growth estimate), v' = round(u/λ). Every cross-row
  // sum is an exact e6/e12 INTEGER so neither engine's addition order
  // can fork the trajectory; the DuckDB oracle replays
  // center→iterate with unrolled CTEs (the p37 convention). At 100 TB:
  // iterations stream the corpus, driver state is dim doubles, the
  // per-dim agg is map-side partial — no shuffle wider than 64 keys.
  // Top-R components = R sequential runs with deflation (x' −= (x'·v)v,
  // one more map-only pass per component) — same plan, R× the scans.
  private val pcaIters = 3
  private val pcaDim = 64

  // + 0.0 erases IEEE negative zero (−0.0 + 0.0 = +0.0) so a tiny
  // negative sum that rounds to zero can never fork the hash against
  // an engine whose ROUND preserves the sign bit (DuckDB does; the
  // oracles apply the same + 0.0 on their rounded output doubles).
  private def pcaR6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0

  /** round(ce[i] − (ds/1e6)·v[i], 6) for every i as a LITERAL-EXPANDED
    * array, bit-identical to the zip_with form. Not a higher-order
    * function on purpose: a lambda that captures an outer row column
    * (here `ds`) falls out of codegen and evaluates interpreted at
    * ~1 ms/row (measured r19 — 2.0 s vs 0.19 s on the 2k-row fixture,
    * the dominant cost of p40c/p40d/p50); 64 expanded element
    * expressions stay inside whole-stage codegen. */
  private def deflateArr(ds: org.apache.spark.sql.Column, v: Array[Double]): org.apache.spark.sql.Column =
    array(v.indices.map(i =>
      round(col("ce").getItem(i) - (ds / 1e6) * lit(v(i)), 6)): _*)

  /** Mean pass + centered frame over `(vec_id, embedding)`: returns
    * (persisted centered frame `(vec_id, ce)`, per-dim means, n). */
  private[graft] def pcaCenter(embs: DataFrame): (DataFrame, Array[Double], Long) = {
    val mRows = embs.select(posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(round(sum(round(col("x").cast("double") * 1e6).cast("long")) /
        (count(lit(1)) * 1e6), 6).as("m"),
        count(lit(1)).as("cnt"))
      .collect()
    require(mRows.length == pcaDim,
      s"[graft] p40 expects $pcaDim-dim embeddings, found ${mRows.length} dims")
    val m = Array.ofDim[Double](pcaDim)
    mRows.foreach(r => m(r.getInt(0)) = r.getDouble(1))
    val n = mRows.head.getLong(2)
    val mLit = array(m.toIndexedSeq.map(lit): _*)
    val cen = embs.select(col("vec_id"),
      zip_with(col("embedding"), mLit,
        (x, mu) => round(x.cast("double") - mu, 6)).as("ce"))
      .persist() // scanned ×iters
    (cen, m, n)
  }

  /** The power-iteration loop over a centered frame `(vec_id, ce)`:
    * per iteration the unit direction (6 dp) and growth estimate λ.
    * Driver state: dim doubles.
    *
    * `afterFirst` runs once, right after the FIRST iteration's job
    * completes — the deflation chains (p40c, whiteningFit) pass the
    * parent cache's unpersist here: iteration 1 is the job that
    * materializes the deflated cache FROM the parent, so this is the
    * earliest safe release point. Releasing only after the whole chain
    * (the r21 version) pinned TWO corpus-projection caches for every
    * remaining iteration — a guide §5 memory widening at 100 TB and
    * the r21 verdict's top finding. */
  private[graft] def pcaIterate(cen: DataFrame, n: Long, iters: Int,
      afterFirst: () => Unit = () => ()): Seq[(Array[Double], Double)] = {
    var v = Array.fill(pcaDim)(0.125) // exact binary fraction, unit 64-dim
    val out = Seq.newBuilder[(Array[Double], Double)]
    for (t <- 1 to iters) {
      val vLit = array(v.toIndexedSeq.map(lit): _*)
      val gRows = cen
        .withColumn("ds",
          aggregate(zip_with(col("ce"), vLit,
            (x, y) => round(x * y * 1e6).cast("long")), lit(0L), (a, x) => a + x))
        .select(posexplode(col("ce")).as(Seq("i", "cv")), col("ds"))
        .groupBy(col("i"))
        .agg(sum(round(col("cv") * (col("ds") / 1e6) * 1e6).cast("long")).as("g"))
        .collect()
      if (t == 1) afterFirst()
      val g = Array.ofDim[Long](pcaDim)
      gRows.foreach(r => g(r.getInt(0)) = r.getLong(1))
      val u = g.map(gi => pcaR6(gi / (n * 1e6)))
      val s2 = u.map(ui => math.round(ui * ui * 1e12)).sum // exact e12 ints
      val lam = pcaR6(math.sqrt(s2 / 1e12))
      require(lam > 0, "[graft] p40 power iteration collapsed to the zero vector")
      v = u.map(ui => pcaR6(ui / lam))
      out += ((v.clone(), lam))
    }
    out.result()
  }

  /** Power-iteration trajectory over `(vec_id, embedding)`: the
    * per-dim corpus means plus, per iteration, the unit direction
    * (64 doubles, 6 dp) and the growth estimate λ. Driver state:
    * dim doubles + n. */
  private[graft] def pcaFit(embs: DataFrame, iters: Int): (Array[Double], Seq[(Array[Double], Double)]) = {
    val (cen, m, n) = pcaCenter(embs)
    val traj = pcaIterate(cen, n, iters)
    cen.unpersist()
    (m, traj)
  }

  val p40 = QuerySpec(
    "p40_pca_power_iteration",
    (s, d) => {
      import s.implicits._
      pcaFit(embeddings(s, d).select(col("vec_id"), col("embedding")), pcaIters)._2
        .zipWithIndex
        .flatMap { case ((vec, lam), t0) =>
          vec.zipWithIndex.map { case (vi, i) => (t0 + 1, i, vi, lam) }
        }
        .toDF("iter", "i", "v", "lam")
        .orderBy(col("iter"), col("i"))
    },
    Some {
      // v + 0.0: DuckDB's ROUND keeps the sign bit, so a component that
      // rounds to zero from below prints -0.0; Spark's BigDecimal path
      // never does — normalize (see pcaR6).
      val out = (1 to pcaIters).map(t =>
        s"SELECT CAST($t AS INTEGER) AS iter, CAST(v$t.i AS INTEGER) AS i, v$t.v + 0.0 AS v, l$t.lam FROM v$t CROSS JOIN l$t")
        .mkString("\nUNION ALL\n")
      s"""WITH $duckPcaPrefix
         |$out
         |ORDER BY iter, i""".stripMargin
    })

  /** DuckDB rendering of [[pcaIterate]] over centered frame `$src`
    * (columns vec_id, i, cv), CTE names prefixed with `$pfx`, starting
    * from the shared `v0` constant direction. Ends in
    * `${pfx}v$pcaIters(i, v)` + `${pfx}l$pcaIters(lam)`. */
  private def duckPcaIterCtes(src: String, pfx: String): String =
    (1 to pcaIters).map { t =>
      val pv = if (t == 1) "v0" else s"${pfx}v${t - 1}"
      s"""${pfx}d$t AS (SELECT c.vec_id, SUM(CAST(ROUND(c.cv * w.v * 1e6) AS BIGINT)) AS ds
         |        FROM $src c JOIN $pv w ON w.i = c.i GROUP BY 1),
         |${pfx}g$t AS (SELECT c.i, SUM(CAST(ROUND(c.cv * (d.ds / 1e6) * 1e6) AS BIGINT)) AS g
         |        FROM $src c JOIN ${pfx}d$t d ON d.vec_id = c.vec_id GROUP BY 1),
         |${pfx}u$t AS (SELECT i, ROUND(g / (n.n * 1e6), 6) AS u FROM ${pfx}g$t CROSS JOIN nn n),
         |${pfx}l$t AS (SELECT ROUND(SQRT(CAST(SUM(CAST(ROUND(u*u*1e12) AS BIGINT)) AS BIGINT) / 1e12), 6) AS lam
         |        FROM ${pfx}u$t),
         |${pfx}v$t AS (SELECT i, ROUND(u / l.lam, 6) AS v FROM ${pfx}u$t CROSS JOIN ${pfx}l$t l)""".stripMargin
    }.mkString(",\n")

  /** DuckDB rendering of [[pcaFit]]: center → $pcaIters unrolled power
    * iterations, ending in `v$pcaIters(i, v)` + `l$pcaIters(lam)` with
    * the centered frame `c(vec_id, i, cv)` still in scope. */
  private def duckPcaPrefix: String =
    s"""f AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
       |             CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
       |nn AS (SELECT COUNT(*) AS n FROM embeddings),
       |mu AS (SELECT i, ROUND(CAST(SUM(CAST(ROUND(v * 1e6) AS BIGINT)) AS BIGINT)
       |                       / (COUNT(*) * 1e6), 6) AS m
       |       FROM f GROUP BY i),
       |c AS (SELECT f.vec_id, f.i, ROUND(f.v - mu.m, 6) AS cv
       |      FROM f JOIN mu ON mu.i = f.i),
       |v0 AS (SELECT unnest(range($pcaDim)) AS i, 0.125 AS v),
       |${duckPcaIterCtes("c", "")}""".stripMargin

  // p40b — projection under the TRAINED component (spectral
  // train→deploy, the p37b precedent): fit the dominant direction on
  // the cluster, then project EVERY embedding onto it and roll up the
  // per-label projection distribution — the drift/segmentation monitor
  // an embedding pipeline actually runs ("did source X shift along the
  // corpus's main axis?"). The projection reuses the training
  // quantization token-for-token: per-row ds = Σ round(cv·v·1e6) is an
  // exact integer, so the label rollup (count / e6-integer mean /
  // min / max) is order-free in both engines; the oracle replays the
  // FULL center→iterate trajectory and then projects under v3, so
  // train→deploy composes under one hash. Map-only scan + one
  // label-keyed partial agg — nothing new shuffles at 100 TB.
  val p40b = QuerySpec(
    "p40b_pca_projection",
    (s, d) => {
      val embs = embeddings(s, d)
      val (m, traj) = pcaFit(embs.select(col("vec_id"), col("embedding")), pcaIters)
      val v = traj.last._1
      val mLit = array(m.toIndexedSeq.map(lit): _*)
      val vLit = array(v.toIndexedSeq.map(lit): _*)
      embs
        .withColumn("ds",
          aggregate(zip_with(
            zip_with(col("embedding"), mLit, (x, mu) => round(x.cast("double") - mu, 6)),
            vLit, (x, y) => round(x * y * 1e6).cast("long")), lit(0L), (a, b) => a + b))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vec"),
          (round(sum(col("ds")).cast("double") / (count(lit(1)) * 1e6), 6) + lit(0.0)).as("mean_proj"),
          (round(min(col("ds")) / 1e6, 6) + lit(0.0)).as("min_proj"),
          (round(max(col("ds")) / 1e6, 6) + lit(0.0)).as("max_proj"))
        .orderBy(col("label"))
    },
    Some(s"""WITH $duckPcaPrefix,
            |pr AS (SELECT c.vec_id, SUM(CAST(ROUND(c.cv * w.v * 1e6) AS BIGINT)) AS ds
            |       FROM c JOIN v$pcaIters w ON w.i = c.i GROUP BY 1)
            |SELECT e.label, COUNT(*) AS n_vec,
            |       ROUND(CAST(SUM(p.ds) AS BIGINT) / (COUNT(*) * 1e6), 6) + 0.0 AS mean_proj,
            |       ROUND(MIN(p.ds) / 1e6, 6) + 0.0 AS min_proj,
            |       ROUND(MAX(p.ds) / 1e6, 6) + 0.0 AS max_proj
            |FROM pr p JOIN embeddings e ON e.vec_id = p.vec_id
            |GROUP BY 1 ORDER BY 1""".stripMargin))

  // p40c — SECOND principal component via DEFLATION: the "top-R
  // components = R sequential runs with deflation" claim (SURVEY/
  // SCALE) as a gated query. After fitting v1, ONE map-only pass
  // removes its span — ce' = round(ce − (ce·v1)·v1, 6), the per-row
  // dot reusing the exact-integer fold — and the SAME power-iteration
  // loop runs unchanged on the deflated frame to find v2. Driver
  // state: 2×64 doubles. The output carries both components, both
  // growth estimates, and the v1·v2 orthogonality as an exact e6
  // integer (the deflation-quality witness — near 0 by construction),
  // all under one hash with the oracle replaying center → iterate →
  // deflate → iterate. At 100 TB: R components cost R× the iteration
  // scans plus R map-only deflation passes — the same plan class as
  // one component, nothing new shuffles.
  val p40c = QuerySpec(
    "p40c_pca_deflation",
    (s, d) => {
      import s.implicits._
      val (cen, _, n) = pcaCenter(embeddings(s, d).select(col("vec_id"), col("embedding")))
      val traj1 = pcaIterate(cen, n, pcaIters)
      val (v1, lam1) = traj1.last
      val v1Lit = array(v1.toIndexedSeq.map(lit): _*)
      val cen2 = cen
        .withColumn("ds", aggregate(zip_with(col("ce"), v1Lit,
          (x, y) => round(x * y * 1e6).cast("long")), lit(0L), (a, x) => a + x))
        .select(col("vec_id"), deflateArr(col("ds"), v1).as("ce"))
        .persist() // scanned ×iters by the second chain
      // no count() barrier (r21, guide §1.2): chain 2's FIRST iteration
      // job materializes cen2 from the still-cached cen; cen is then
      // released via the afterFirst hook (r22) — the overlap of the two
      // corpus-projection caches lasts exactly one job, the same peak
      // the old count() barrier had, instead of the whole second chain
      val traj2 = pcaIterate(cen2, n, pcaIters, afterFirst = () => cen.unpersist())
      cen2.unpersist()
      val (v2, lam2) = traj2.last
      val ortho = v1.zip(v2).map { case (a, b) =>
        BigDecimal(a * b * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong }.sum
      (v1.zipWithIndex.map { case (x, i) => (1, i, x, lam1, ortho) } ++
        v2.zipWithIndex.map { case (x, i) => (2, i, x, lam2, ortho) }).toSeq
        .toDF("comp", "i", "v", "lam", "ortho_e6")
        .orderBy(col("comp"), col("i"))
    },
    Some(s"""WITH $duckPcaPrefix,
            |dd AS (SELECT c.vec_id, SUM(CAST(ROUND(c.cv * w.v * 1e6) AS BIGINT)) AS ds
            |       FROM c JOIN v$pcaIters w ON w.i = c.i GROUP BY 1),
            |c2 AS MATERIALIZED (SELECT c.vec_id, c.i, ROUND(c.cv - (d.ds / 1e6) * w.v, 6) AS cv
            |       FROM c JOIN dd d ON d.vec_id = c.vec_id JOIN v$pcaIters w ON w.i = c.i),
            |${duckPcaIterCtes("c2", "b")},
            |ortho AS (SELECT CAST(SUM(CAST(ROUND(a.v * b.v * 1e6) AS BIGINT)) AS BIGINT) AS ortho_e6
            |          FROM v$pcaIters a JOIN bv$pcaIters b ON b.i = a.i)
            |SELECT CAST(1 AS INTEGER) AS comp, CAST(v$pcaIters.i AS INTEGER) AS i, v$pcaIters.v + 0.0 AS v,
            |       l$pcaIters.lam, o.ortho_e6
            |FROM v$pcaIters CROSS JOIN l$pcaIters CROSS JOIN ortho o
            |UNION ALL
            |SELECT CAST(2 AS INTEGER), CAST(bv$pcaIters.i AS INTEGER), bv$pcaIters.v + 0.0,
            |       bl$pcaIters.lam, o.ortho_e6
            |FROM bv$pcaIters CROSS JOIN bl$pcaIters CROSS JOIN ortho o
            |ORDER BY comp, i""".stripMargin))

  // p40d — PCA WHITENING deploy gate (the embedding-conditioning step
  // real ANN pipelines run before PQ: project onto the top components
  // and scale each by 1/√λ so every retained axis has unit variance —
  // OPQ/whitened-PQ's first half). Composes p40c's two-component
  // deflation TRAINING with the p40b projection DEPLOY: both
  // components fit on the cluster (v2 on the deflated frame), then ONE
  // map-only pass projects every embedding onto v1 AND v2
  // simultaneously (exact e6-integer dots) and ONE partial agg reduces
  // six integer sums per component — raw variance ≈ λ (the power
  // iteration's growth estimate IS v'Cv, the variance along v; the
  // gate makes that claim checkable), whitened variance ≈ 1. All five
  // derived doubles per component (λ, σ=√λ, mean, var_raw, var_white)
  // come from exact integer sums via single deterministic
  // divide-and-round steps mirrored token-for-token in the oracle,
  // which replays center → iterate → deflate → iterate → project →
  // rollup under one hash. At 100 TB: training is p40c's cost
  // envelope; the deploy pass is map-only + a 1-row agg — whitening
  // never shuffles the corpus.
  val p40d = QuerySpec(
    "p40d_pca_whitening",
    (s, d) => {
      import s.implicits._
      val (cen, _, n) = pcaCenter(embeddings(s, d).select(col("vec_id"), col("embedding")))
      val (v1, lam1) = pcaIterate(cen, n, pcaIters).last
      val v1Lit = array(v1.toIndexedSeq.map(lit): _*)
      val cen2 = cen
        .withColumn("ds", aggregate(zip_with(col("ce"), v1Lit,
          (x, y) => round(x * y * 1e6).cast("long")), lit(0L), (a, x) => a + x))
        .select(col("vec_id"), deflateArr(col("ds"), v1).as("ce"))
        .persist() // scanned ×iters by the second chain
      // no count() barrier (r21, guide §1.2): cen stays cached through
      // the projection pass below anyway, so chain 2's first iteration
      // materializes cen2 straight off the cache — one fewer job
      val (v2, lam2) = pcaIterate(cen2, n, pcaIters).last
      cen2.unpersist()
      // whitening scale per component: σ = round(√λ, 6) — driver
      // literal, replayed by the oracle's ROUND(SQRT(lam), 6)
      val sig1 = pcaR6(math.sqrt(lam1))
      val sig2 = pcaR6(math.sqrt(lam2))
      def dsOf(v: Array[Double]) =
        aggregate(zip_with(col("ce"), array(v.toIndexedSeq.map(lit): _*),
          (x, y) => round(x * y * 1e6).cast("long")), lit(0L), (a, x) => a + x)
      // ONE corpus pass computes both projections; per-row whitened
      // value w = round((ds/1e6)/σ, 6), then exact e6-integer sums
      def sums(ds: org.apache.spark.sql.Column, sig: Double, sfx: String) = {
        val t = ds / 1e6
        val wv = round(t / lit(sig), 6)
        Seq(sum(ds).as(s"sum$sfx"),
          sum(round(t * t * 1e6).cast("long")).as(s"ssq$sfx"),
          sum(round(wv * 1e6).cast("long")).as(s"wsum$sfx"),
          sum(round(wv * wv * 1e6).cast("long")).as(s"wssq$sfx"))
      }
      val aggs = sums(col("ds1"), sig1, "1") ++ sums(col("ds2"), sig2, "2")
      val r = cen.select(dsOf(v1).as("ds1"), dsOf(v2).as("ds2"))
        .agg(aggs.head, aggs.tail: _*).head()
      cen.unpersist()
      def statsOf(off: Int): (Double, Double, Double) = {
        val (sm, ssq, wsum, wssq) =
          (r.getLong(off), r.getLong(off + 1), r.getLong(off + 2), r.getLong(off + 3))
        val mean = pcaR6(sm / (n * 1e6))
        val varRaw = pcaR6(ssq / (n * 1e6) - mean * mean)
        val meanW = pcaR6(wsum / (n * 1e6))
        val varWhite = pcaR6(wssq / (n * 1e6) - meanW * meanW)
        (mean, varRaw, varWhite)
      }
      val (m1, vr1, vw1) = statsOf(0)
      val (m2, vr2, vw2) = statsOf(4)
      Seq((1, lam1, sig1, m1, vr1, vw1), (2, lam2, sig2, m2, vr2, vw2))
        .toDF("comp", "lam", "sigma", "mean_proj", "var_raw", "var_white")
        .orderBy(col("comp"))
    },
    Some(s"""WITH $duckPcaPrefix,
            |dd AS (SELECT c.vec_id, SUM(CAST(ROUND(c.cv * w.v * 1e6) AS BIGINT)) AS ds
            |       FROM c JOIN v$pcaIters w ON w.i = c.i GROUP BY 1),
            |c2 AS MATERIALIZED (SELECT c.vec_id, c.i, ROUND(c.cv - (d.ds / 1e6) * w.v, 6) AS cv
            |       FROM c JOIN dd d ON d.vec_id = c.vec_id JOIN v$pcaIters w ON w.i = c.i),
            |${duckPcaIterCtes("c2", "b")},
            |dd2 AS (SELECT c.vec_id, SUM(CAST(ROUND(c.cv * w.v * 1e6) AS BIGINT)) AS ds
            |        FROM c JOIN bv$pcaIters w ON w.i = c.i GROUP BY 1),
            |s1 AS (SELECT lam, ROUND(SQRT(lam), 6) AS sig FROM l$pcaIters),
            |s2 AS (SELECT lam, ROUND(SQRT(lam), 6) AS sig FROM bl$pcaIters),
            |st1 AS (SELECT CAST(SUM(ds) AS BIGINT) AS sm,
            |          CAST(SUM(CAST(ROUND((ds/1e6)*(ds/1e6)*1e6) AS BIGINT)) AS BIGINT) AS ssq,
            |          CAST(SUM(CAST(ROUND(ROUND((ds/1e6)/s.sig, 6)*1e6) AS BIGINT)) AS BIGINT) AS wsum,
            |          CAST(SUM(CAST(ROUND(ROUND((ds/1e6)/s.sig, 6)*ROUND((ds/1e6)/s.sig, 6)*1e6) AS BIGINT)) AS BIGINT) AS wssq
            |        FROM dd CROSS JOIN s1 s),
            |st2 AS (SELECT CAST(SUM(ds) AS BIGINT) AS sm,
            |          CAST(SUM(CAST(ROUND((ds/1e6)*(ds/1e6)*1e6) AS BIGINT)) AS BIGINT) AS ssq,
            |          CAST(SUM(CAST(ROUND(ROUND((ds/1e6)/s.sig, 6)*1e6) AS BIGINT)) AS BIGINT) AS wsum,
            |          CAST(SUM(CAST(ROUND(ROUND((ds/1e6)/s.sig, 6)*ROUND((ds/1e6)/s.sig, 6)*1e6) AS BIGINT)) AS BIGINT) AS wssq
            |        FROM dd2 CROSS JOIN s2 s)
            |SELECT CAST(1 AS INTEGER) AS comp, s1.lam, s1.sig AS sigma,
            |       ROUND(st1.sm / (n.n * 1e6), 6) + 0.0 AS mean_proj,
            |       ROUND(st1.ssq / (n.n * 1e6)
            |             - ROUND(st1.sm / (n.n * 1e6), 6) * ROUND(st1.sm / (n.n * 1e6), 6), 6) + 0.0 AS var_raw,
            |       ROUND(st1.wssq / (n.n * 1e6)
            |             - ROUND(st1.wsum / (n.n * 1e6), 6) * ROUND(st1.wsum / (n.n * 1e6), 6), 6) + 0.0 AS var_white
            |FROM st1 CROSS JOIN s1 CROSS JOIN nn n
            |UNION ALL
            |SELECT CAST(2 AS INTEGER), s2.lam, s2.sig,
            |       ROUND(st2.sm / (n.n * 1e6), 6) + 0.0,
            |       ROUND(st2.ssq / (n.n * 1e6)
            |             - ROUND(st2.sm / (n.n * 1e6), 6) * ROUND(st2.sm / (n.n * 1e6), 6), 6) + 0.0,
            |       ROUND(st2.wssq / (n.n * 1e6)
            |             - ROUND(st2.wsum / (n.n * 1e6), 6) * ROUND(st2.wsum / (n.n * 1e6), 6), 6) + 0.0
            |FROM st2 CROSS JOIN s2 CROSS JOIN nn n
            |ORDER BY comp""".stripMargin))

  // p50 — WHITENED-PQ retrieval (the second half of what p40d
  // started): p40c's two-component deflation TRAINS v1/v2/λ1/λ2 on
  // the cluster, the whitening map is applied to the FULL 64-dim
  // vector (not just its projection — w = ce + (1/σ1−1)(ce·v1)v1 +
  // (1/σ2−1)(ce·v2)v2, i.e. the two dominant axes are rescaled to
  // unit variance while the orthogonal complement passes through),
  // and the WHITENED cosine is the SERVING metric — the
  // whitening-as-postprocessing convention (Su et al. 2021,
  // "Whitening Sentence Representations"; BERT-flow's goal):
  // embeddings are conditioned once at index build and every
  // similarity downstream lives in the conditioned space. p24's
  // PQ-ADC machinery then runs entirely in that space — codebook,
  // codes, reconstruction, ADC ranking, exact rescore — so the
  // quantizer approximates the exact metric it serves (what OPQ's
  // variance balancing is FOR: the dominant axes no longer dominate
  // every subquantizer's error budget; PipelineSpec pins that the
  // whitened stack's self-metric recall ≥ the raw stack's, measured
  // against each stack's own brute-force truth). Determinism: the
  // training trajectory is p40c's exact-e6-integer one; the scales
  // g = round(1/round(√λ,6) − 1, 6) are driver literals the oracle
  // recomputes from ITS OWN replayed λ; per-row dots ds are exact e6
  // integers; each whitened coordinate is one left-associated double
  // chain rounded to 6 dp, mirrored token-for-token. At 100 TB:
  // training is p40c's cost envelope (R× map-only scans + 64-key
  // aggs), whitening is ONE map-only pass with 2×64 doubles of
  // driver state riding the plan as literals, and the retrieval
  // inherits p24's proven shape — M-byte codes to the pool cut,
  // fixed rescore budget, corpus never shuffles for queries. This
  // gate's UN-ROUTED corpus-wide ADC scan (and its per-qid pool
  // window over it) is the measurement, not the serving plan: it
  // isolates quantization quality from routing recall. The serving
  // shape — whitening composed into the ROUTED filtered stack, where
  // every window covers only probed-list candidates — is p51.

  /** ds = Σ round(ce·v·1e6) as an exact e6 integer — the per-row
    * projection fold shared by the whitening trainer and apply. */
  private def whitenDsOf(v: Array[Double]) =
    aggregate(zip_with(col("ce"), array(v.toIndexedSeq.map(lit): _*),
      (x, y) => round(x * y * 1e6).cast("long")), lit(0L), (a, x) => a + x)

  /** Deflation-train the two-axis whitening transform on the corpus —
    * the TRAIN half of the p50/p51 conditioner, returned as the
    * storable [[graft.ops.Whitening]] artifact (mu, v1, v2, g1, g2 —
    * 4×64 doubles + 2 scalars of driver state): a production service
    * trains this ONCE at index build and whitens every query with the
    * SAME stored transform ([[graft.ops.IndexStore.saveWhitening]];
    * IndexStoreSpec pins apply-from-loaded == the self-trained
    * [[whitenedEmbeddings]] bit-for-bit). */
  private[graft] def whiteningFit(s: SparkSession, d: String): graft.ops.Whitening = {
    val raw = embeddings(s, d).select(col("vec_id"), col("embedding"))
    val (cen, mu, n) = pcaCenter(raw)
    val (v1, lam1) = pcaIterate(cen, n, pcaIters).last
    val cen2 = cen
      .withColumn("ds", whitenDsOf(v1))
      .select(col("vec_id"), deflateArr(col("ds"), v1).as("ce"))
      .persist() // scanned ×iters by the second chain
    // no count() barrier (r21, guide §1.2): the second chain's first
    // iteration job materializes cen2 from the still-cached cen; cen is
    // then released via the afterFirst hook (r22) so the two-cache
    // overlap lasts one job, not the whole second chain (guide §5)
    val (v2, lam2) = pcaIterate(cen2, n, pcaIters,
      afterFirst = () => cen.unpersist()).last
    cen2.unpersist()
    val sig1 = pcaR6(math.sqrt(lam1)); val g1 = pcaR6(1.0 / sig1 - 1.0)
    val sig2 = pcaR6(math.sqrt(lam2)); val g2 = pcaR6(1.0 / sig2 - 1.0)
    graft.ops.Whitening(mu, v1, v2, g1, g2)
  }

  /** PQ encode + reconstruction of `df`'s `embedding` column under
    * codebook `cb`: adds `codes` (the M sub-codes), `rv` (the
    * reconstructed vector) and `rnrm` (its norm) — shared by p24, p50
    * and the ANN stacks. Encode runs through the PqEncode KERNEL (O(1)
    * plan nodes; the ~1,000-node literal expansion dominated p24's
    * fixed cost, and production K'=256 would make it ~16,000 — see the
    * PqEncode scaladoc). Its unique-name registration is dropped once
    * the frame is built, same hygiene as the k-means kernel.
    * Reconstruction indexes the codebook as a foldable literal
    * array-of-arrays by the code — constant-folded, so `rv` is a cheap
    * lookup. */
  private def pqEncodeReconstruct(s: SparkSession, df: DataFrame,
      cb: Array[Array[Array[Double]]]): DataFrame = {
    val fnName = graft.expressions.VectorExpressions.registerPqEncode(s, cb)
    def reconSub(m: Int): org.apache.spark.sql.Column =
      element_at(
        array((0 until pqK).map(j => array((0 until pqSub).map(t => lit(cb(m)(j)(t))): _*)): _*),
        col("codes").getItem(m) + lit(1))
    try {
      df.withColumn("codes", expr(s"$fnName(embedding)"))
        .withColumn("rv", flatten(array((0 until pqM).map(reconSub): _*)))
        .withColumn("rnrm", sqrt(expr("aggregate(zip_with(rv, rv, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")))
    } finally graft.expressions.TempFunctions.drop(s, fnName)
  }

  /** The APPLY half: condition any `(vec_id, embedding)` frame under a
    * trained transform — center with the stored mu (the exact
    * pcaCenter expression), project onto v1/v2 as exact e6 integers,
    * rescale the two dominant axes. ONE map-only pass; every
    * coordinate is the same left-associated 6-dp chain the trainer's
    * inline path produced, so fit-then-apply is bit-identical to the
    * fused [[whitenedEmbeddings]]. Returns `(vec_id, embedding, wnrm)`,
    * persisted unless `persist = false` — p51 passes false because
    * annFullStack immediately re-persists the frame (plus its own norm)
    * as the stack's shared cache, and caching the same corpus twice is
    * pure memory/cache-write overhead (guide §5); p50 keeps the default
    * (codebook/encode/query/rescore all read THIS frame directly). */
  private[graft] def whitenApply(raw: DataFrame, w: graft.ops.Whitening,
      persist: Boolean = true): DataFrame = {
    val muLit = array(w.mu.toIndexedSeq.map(lit): _*)
    // g·v_i folded on the driver (exact IEEE product of the same
    // doubles the oracle multiplies inside its wf CTE)
    val gv1 = w.v1.map(x => w.g1 * x)
    val gv2 = w.v2.map(x => w.g2 * x)
    // literal-expanded for the same codegen reason as deflateArr
    val wht = raw
      .select(col("vec_id"),
        zip_with(col("embedding"), muLit,
          (x, mu) => round(x.cast("double") - mu, 6)).as("ce"))
      .withColumn("ds1", whitenDsOf(w.v1))
      .withColumn("ds2", whitenDsOf(w.v2))
      .select(col("vec_id"),
        array(gv1.indices.map(i =>
          round(col("ce").getItem(i)
            + (col("ds1") / 1e6) * lit(gv1(i))
            + (col("ds2") / 1e6) * lit(gv2(i)), 6)): _*).as("embedding"))
      .withColumn("wnrm", sqrt(expr(
        "aggregate(zip_with(embedding, embedding, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")))
    // no count() barrier (r21, guide §1.2): the first consumer action
    // (the PQ codebook's seed TakeOrdered scans every partition)
    // materializes the cache — one fewer full-pass job per caller
    if (persist) wht.persist() else wht
  }

  /** Deflation-trained two-axis whitening of the embeddings table:
    * `(vec_id, embedding = 64-dim whitened array<double> at 6 dp,
    * wnrm)`, persisted. Shared by the p50/p51 gates and their specs'
    * brute-force truth so the serving metric cannot drift. Train +
    * apply composed ([[whiteningFit]] → [[whitenApply]]). */
  private[graft] def whitenedEmbeddings(s: SparkSession, d: String,
      persist: Boolean = true): DataFrame =
    whitenApply(embeddings(s, d).select(col("vec_id"), col("embedding")),
      whiteningFit(s, d), persist)

  /** DuckDB rendering of [[whitenedEmbeddings]]: [[duckPcaPrefix]] +
    * the deflation chain + the whitened flat table
    * `wf(vec_id, i, wv)`. CTE names are w-/b-prefixed so the block
    * composes with the k-means/ANN CTEs (which claim c0..cN, f, n) —
    * shared by the p50 oracle and p51's whitened routed stack. */
  private def duckWhitenCtes: String =
    s"""$duckPcaPrefix,
       |wdd AS (SELECT c.vec_id, SUM(CAST(ROUND(c.cv * w.v * 1e6) AS BIGINT)) AS ds
       |       FROM c JOIN v$pcaIters w ON w.i = c.i GROUP BY 1),
       |wc2 AS MATERIALIZED (SELECT c.vec_id, c.i, ROUND(c.cv - (d.ds / 1e6) * w.v, 6) AS cv
       |       FROM c JOIN wdd d ON d.vec_id = c.vec_id JOIN v$pcaIters w ON w.i = c.i),
       |${duckPcaIterCtes("wc2", "b")},
       |wdd2 AS (SELECT c.vec_id, SUM(CAST(ROUND(c.cv * w.v * 1e6) AS BIGINT)) AS ds
       |        FROM c JOIN bv$pcaIters w ON w.i = c.i GROUP BY 1),
       |wg AS (SELECT ROUND(CAST(1 AS DOUBLE) / ROUND(SQRT(l.lam), 6) - CAST(1 AS DOUBLE), 6) AS g1,
       |             ROUND(CAST(1 AS DOUBLE) / ROUND(SQRT(b.lam), 6) - CAST(1 AS DOUBLE), 6) AS g2
       |      FROM l$pcaIters l CROSS JOIN bl$pcaIters b),
       |wf AS MATERIALIZED (SELECT c.vec_id, c.i,
       |        ROUND(c.cv + (d1.ds / 1e6) * (g.g1 * v.v) + (d2.ds / 1e6) * (g.g2 * bv.v), 6) AS wv
       |      FROM c JOIN wdd d1 ON d1.vec_id = c.vec_id
       |             JOIN wdd2 d2 ON d2.vec_id = c.vec_id
       |             JOIN v$pcaIters v ON v.i = c.i
       |             JOIN bv$pcaIters bv ON bv.i = c.i
       |             CROSS JOIN wg g)""".stripMargin

  /** [[duckWhitenCtes]] re-shaped as a [[duckAnnStackSql]] source:
    * ends by defining `wfl(vec_id, i, v)` / `wn_(vec_id, nrm)`, the
    * whitened twins of the raw `f`/`n`. */
  private def duckWhitenSrc: String =
    s"""$duckWhitenCtes,
       |wfl AS (SELECT vec_id, i, wv AS v FROM wf),
       |wn_ AS (SELECT vec_id, SQRT(SUM(v*v)) AS nrm FROM wfl GROUP BY 1)""".stripMargin

  val p50 = QuerySpec(
    "p50_opq_whitened_pq",
    (s, d) => {
      graft.expressions.VectorExpressions.register(s)
      val wht = whitenedEmbeddings(s, d)
      // p24's PQ machinery, codebook and codes in WHITENED space
      val cb = pqCodebook(wht)
      val enc = pqEncodeReconstruct(s, wht, cb)
      val qs = wht.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("wnrm").as("qn"))
      val dotA = "aggregate(zip_with(qe, rv, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
      val scored = enc.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("acos_", round(expr(dotA) / (col("qn") * col("rnrm")), 6))
      val wA = Window.partitionBy(col("qid")).orderBy(col("acos_").desc, col("vec_id"))
      val pool = scored.withColumn("arn", row_number().over(wA)).filter(col("arn") <= pqPool)
        .select(col("qid"), col("vec_id"))
      // exact rescore in the SERVING metric — whitened cosine
      val exact = pool
        .join(wht.select(col("vec_id"), col("embedding").as("we"), col("wnrm").as("cn")), "vec_id")
        .join(broadcast(qs), "qid")
        .withColumn("cos",
          round(expr("aggregate(zip_with(we, qe, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")
            / (col("cn") * col("qn")), 6)
            + lit(0.0)) // −0.0 guard, both engines (see pcaR6)
      val wT = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
      exact.withColumn("rn", row_number().over(wT)).filter(col("rn") <= 3)
        .select(col("qid"), col("rn"), col("vec_id").as("cid"), col("cos").as("cosine"))
        .orderBy(col("qid"), col("rn"))
    },
    Some(s"""WITH $duckWhitenCtes,
            |wn AS (SELECT vec_id, SQRT(SUM(wv*wv)) AS wnrm FROM wf GROUP BY 1),
            |pqseeds AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j
            |            FROM embeddings ORDER BY vec_id LIMIT $pqK),
            |wcb AS (SELECT s.j, CAST(FLOOR(wf.i / $pqSub) AS BIGINT) AS m, wf.i % $pqSub AS t,
            |               ROUND(wf.wv, 6) AS cv
            |        FROM wf JOIN pqseeds s ON wf.vec_id = s.vec_id),
            |wcc AS (SELECT m, j, SUM(cv*cv) AS cc FROM wcb GROUP BY 1, 2),
            |wsc AS (SELECT wf.vec_id, wcb.m, wcb.j, SUM(wf.wv * wcb.cv) AS dot
            |        FROM wf JOIN wcb ON wcb.m = CAST(FLOOR(wf.i / $pqSub) AS BIGINT)
            |                        AND wcb.t = wf.i % $pqSub
            |        GROUP BY 1, 2, 3),
            |wrk AS (SELECT s.vec_id, s.m, s.j, ROW_NUMBER() OVER
            |          (PARTITION BY s.vec_id, s.m
            |           ORDER BY ROUND(s.dot - 0.5 * c.cc, 6) DESC, s.j) AS jr
            |        FROM wsc s JOIN wcc c ON c.m = s.m AND c.j = s.j),
            |wcode AS (SELECT vec_id, m, j FROM wrk WHERE jr = 1),
            |wr AS (SELECT wcode.vec_id, wcb.m * $pqSub + wcb.t AS i, wcb.cv AS rv
            |       FROM wcode JOIN wcb ON wcb.m = wcode.m AND wcb.j = wcode.j),
            |wrn AS (SELECT vec_id, SQRT(SUM(rv*rv)) AS rnrm FROM wr GROUP BY 1),
            |q AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id < 5),
            |ad AS (SELECT q.qid, wr.vec_id AS cid, SUM(wq.wv * wr.rv) AS dot
            |       FROM q JOIN wf wq ON wq.vec_id = q.qid
            |              JOIN wr ON wr.i = wq.i AND wr.vec_id <> q.qid
            |       GROUP BY 1, 2),
            |ac AS (SELECT qid, cid, ad.dot / (nq.wnrm * nc.rnrm) AS acos_
            |       FROM ad JOIN wn nq ON nq.vec_id = qid JOIN wrn nc ON nc.vec_id = cid),
            |pool AS (SELECT qid, cid FROM (
            |           SELECT qid, cid, ROW_NUMBER() OVER
            |             (PARTITION BY qid ORDER BY ROUND(acos_, 6) DESC, cid) AS arn FROM ac)
            |         WHERE arn <= $pqPool),
            |pd AS (SELECT pool.qid, pool.cid, SUM(x.wv * y.wv) AS dot
            |       FROM pool JOIN wf x ON x.vec_id = pool.qid
            |                 JOIN wf y ON y.vec_id = pool.cid AND y.i = x.i
            |       GROUP BY 1, 2),
            |pc AS (SELECT qid, cid, dot / (na.wnrm * nb.wnrm) AS cos
            |       FROM pd JOIN wn na ON na.vec_id = qid JOIN wn nb ON nb.vec_id = cid),
            |rr AS (SELECT qid, cid, cos, ROW_NUMBER() OVER
            |         (PARTITION BY qid ORDER BY ROUND(cos, 6) DESC, cid) AS rn2 FROM pc)
            |SELECT qid, CAST(rn2 AS INTEGER) AS rn, cid, ROUND(cos, 6) + 0.0 AS cosine
            |FROM rr WHERE rn2 <= 3 ORDER BY qid, rn""".stripMargin))

  // p51 — WHITENED FULL-STACK FILTERED ANN: the plan a production
  // retrieval service actually runs (OPQ-style conditioning + IVF-PQ +
  // attribute filter), composed entirely from hash-gated pieces. The
  // p50 whitening trains on the cluster (p40c deflation) and
  // conditions the corpus ONCE at index build; then the WHOLE p36/p48
  // routed stack runs in that serving metric — the IVF coarse
  // quantizer is TRAINED on whitened vectors (so its Voronoi cells
  // partition the space queries are actually scored in), probes route
  // through the trained lists, the p48 allow-list semi-joins the
  // membership table BEFORE the PQ-ADC scan, the PQ codebook encodes
  // whitened vectors, and the exact rescore is the whitened cosine.
  // This retires p50's corpus-wide pool window: here the pool cut
  // windows over ROUTED candidates only (~nprobe/K of the corpus per
  // query — p36's accepted shape), so no corpus-sized window partition
  // exists anywhere in the plan. Scale shape is p48's: training is
  // bounded driver state (K×dim centroids, 2×64 whitening doubles, a
  // 16-row codebook riding the plan as literals/kernel state), the
  // whitening itself is ONE map-only pass, candidates come from the
  // list equi-join against broadcast probes (never all-pairs), and
  // the corpus never shuffles for queries. The oracle is the IDENTICAL
  // routed-stack SQL as p36/p48 (duckAnnStackSql) pointed at the
  // whitened source CTEs instead of the raw flats — one trajectory,
  // two spaces, every stage under one hash.
  val p51 = QuerySpec(
    "p51_whitened_filtered_ann",
    (s, d) => {
      // persist = false: annFullStack re-persists this frame (plus its
      // own norm) as the stack's single shared cache; a second cache of
      // the same corpus here bought nothing and doubled the cache
      // footprint (r22, guide §5 — and the unused wnrm column is now
      // pruned out of the whitening projection entirely)
      val wht = whitenedEmbeddings(s, d, persist = false)
      annFullStack(s, d,
        allow = Some(documents(s, d).filter(col("lang") === "en")
          .select(col("doc_id").as("vec_id"))),
        source = Some(wht.select(col("vec_id"), col("embedding"))))
    },
    Some(duckAnnStackSql(
      "allow AS (SELECT doc_id AS vec_id FROM documents WHERE lang = 'en'),\n",
      " JOIN allow w ON w.vec_id = a.vec_id",
      src = duckWhitenSrc, fTab = "wfl", nTab = "wn_")))

  // p41 — COUNT-MIN SKETCH heavy hitters (bigram boilerplate mining):
  // the third sketch family after HLL (q16_hll) and approx quantiles
  // (q26b), and unlike those this one composes to an EXACT answer —
  // the production pattern for corpus-frequency screens ("which
  // phrases are suspiciously common"): build a tiny mergeable sketch
  // in one pass, take the sketch's top-k as CANDIDATES, exact-recount
  // only the candidates. The sketch is integer-only (md5-derived
  // bucket hashes, the TextFns portability discipline), so the WHOLE
  // composition — cells, min-over-rows estimates, candidate cut,
  // recount — hash-gates against a DuckDB replay: CMS overestimates
  // (est ≥ exact always; collisions at width 256 over ~900 bigrams
  // are REAL and mirrored, never hidden — the p6 LSH convention).
  // Shape at 100 TB (r22): ONE corpus scan folds instances to exact
  // per-bigram counts (vocab-keyed partial agg — the p29 dictionary
  // cost class, and the same vocab shuffle the estimates step always
  // paid for its distinct); the 1024-cell sketch then aggregates the
  // counted vocabulary (cells(k,b) = Σ cnt — identical to the
  // per-instance build, since addition is associative), estimates join
  // the vocab to the BROADCAST sketch, the candidate cut is
  // TakeOrdered(k), and the exact recount is free — it IS the vocab
  // count. No corpus-sized shuffle anywhere, and no second or third
  // corpus scan (the pre-r22 plan hashed 4 md5s per INSTANCE and
  // re-read the instance set three times).
  private[graft] val cmsDepth = 4
  private[graft] val cmsWidth = 256
  private val cmsTopK = 25

  val p41 = QuerySpec(
    "p41_cms_heavy_hitters",
    (s, d) => {
      // r22 restructure (guide §2.3 "aggregate before you shuffle" +
      // §1.2 fewer passes): ONE corpus pass folds the bigram instances
      // to exact per-bigram counts (a vocab-keyed partial agg — the
      // same shuffle class the old plan already paid for its
      // distinct-vocab estimates step), and the sketch build, the
      // estimate join AND the exact recount all run over that counted
      // vocabulary. Bit-identical outputs: cells(k,b) = Σ_instances =
      // Σ_vocab cnt, est unchanged, n_exact IS the vocab count. The old
      // plan hashed 4×md5 per INSTANCE and re-scanned the instance
      // cache three times (at 100 TB, where no cache holds the corpus:
      // three corpus scans); this hashes 4×md5 per DISTINCT bigram and
      // scans the corpus once.
      val vc = documents(s, d).filter(col("lang") === "en")
        .withColumn("toks", expr(toks))
        .select(explode(expr(TextFns.shinglesExpr("toks", 2))).as("big"))
        .groupBy(col("big")).agg(count(lit(1)).as("cnt"))
        .persist() // vocab-sized; read by: sketch cells, estimates, recount
      def bucket = expr(
        s"${TextFns.md5IntScalarExpr("concat(CAST(k AS STRING), ':', big)")} % $cmsWidth")
      val ks = explode(array((0 until cmsDepth).map(lit): _*)).as("k")
      val withB = vc.select(col("big"), col("cnt"), ks)
        .withColumn("bucket", bucket) // derived twice below — vocab×depth rows, cheaper than a cache
      val cells = withB.groupBy(col("k"), col("bucket")).agg(sum(col("cnt")).as("cnt"))
      val est = withB.select(col("big"), col("k"), col("bucket"))
        .join(broadcast(cells), Seq("k", "bucket"))
        .groupBy(col("big")).agg(min(col("cnt")).as("cms_est"))
      val cand = est.orderBy(col("cms_est").desc, col("big")).limit(cmsTopK)
      cand.join(vc, "big")
        .select(col("big").as("bigram"), col("cms_est"), col("cnt").as("n_exact"))
        .orderBy(col("cms_est").desc, col("bigram"))
    },
    Some {
      val duckBucket =
        s"CAST('0x' || substr(md5(CAST(k AS VARCHAR) || ':' || big), 1, 15) AS BIGINT) % ${TextFns.minhashP} % $cmsWidth"
      s"""WITH base AS (SELECT doc_id, $duckToks AS toks FROM documents WHERE lang = 'en'),
         |inst AS (SELECT toks[i+1] || ' ' || toks[i+2] AS big
         |         FROM base, UNNEST(range(greatest(len(toks)-1, 0))) AS u(i)),
         |ks AS (SELECT unnest(range($cmsDepth)) AS k),
         |cells AS (SELECT k, $duckBucket AS bucket, COUNT(*) AS cnt
         |          FROM inst CROSS JOIN ks GROUP BY 1, 2),
         |dx AS (SELECT DISTINCT big FROM inst),
         |est AS (SELECT q.big, MIN(c.cnt) AS cms_est
         |        FROM (SELECT d.big, k.k, $duckBucket AS bucket
         |              FROM dx d CROSS JOIN ks k) q
         |        JOIN cells c ON c.k = q.k AND c.bucket = q.bucket
         |        GROUP BY 1),
         |cand AS (SELECT big, cms_est FROM est ORDER BY cms_est DESC, big LIMIT $cmsTopK),
         |ex AS (SELECT i.big, COUNT(*) AS n_exact FROM inst i
         |       JOIN cand c ON c.big = i.big GROUP BY 1)
         |SELECT c.big AS bigram, CAST(c.cms_est AS BIGINT) AS cms_est,
         |       CAST(e.n_exact AS BIGINT) AS n_exact
         |FROM cand c JOIN ex e ON e.big = c.big
         |ORDER BY cms_est DESC, bigram""".stripMargin
    })

  // p42 — BLOOM-FILTER decontamination screen: the fourth sketch
  // family (HLL counts, quantile ranks, CMS frequencies — bloom does
  // MEMBERSHIP), and like p41 it composes to an exact answer. The
  // production shape for "has this shingle been seen in the index
  // corpus": build an m-bit bloom over the corpus's distinct shingles
  // (k md5-derived bit positions each — the set-bit table is ≤ m rows
  // and BROADCASTS), probe every increment shingle map-side (a
  // shingle is maybe-present iff ALL k of its bits are set; no false
  // negatives ever, false positives mirrored in the oracle — the p41
  // convention), and run the EXPENSIVE exact lookup only on the
  // bloom-pruned survivors — the pruning IS the operator's point, and
  // because bloom has no false negatives the pruned exact count
  // equals the unpruned one (the law the spec pins). The screen
  // decision is integer arithmetic (2·n_maybe ≥ n_sh), so both
  // engines branch identically. At 100 TB: the bit table is ≤ m rows
  // no matter the corpus (the ops/Layout bloom-join story, now
  // oracle-gated), probes never shuffle, and the exact verify starts
  // from the candidate side only. ops/Layout.scala:88-89's UDF-based
  // bloom join is this same screen as a join strategy; this gate is
  // the engine-level membership sketch with its false-positive
  // behavior under hash.
  private[graft] val bloomM = 4096
  private[graft] val bloomK = 3

  val p42 = QuerySpec(
    "p42_bloom_decontaminate",
    (s, d) => {
      val shs = documents(s, d)
        .withColumn("toks", expr(toks))
        .select(col("doc_id"),
          explode(array_distinct(expr(TextFns.shinglesExpr("toks")))).as("sh"))
        .persist() // reused: corpus dictionary + increment probes
      val corpus = shs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
        .select(col("sh")).distinct().persist() // index side: distinct shingles
      val inc = shs.filter(pmod(col("doc_id"), lit(5)) === 0)
      def bitOf = expr(
        s"${TextFns.md5IntScalarExpr("concat('b', CAST(j AS STRING), ':', sh)")} % $bloomM")
      val js = explode(array((0 until bloomK).map(lit): _*)).as("j")
      val bits = corpus.select(col("sh"), js)
        .select(bitOf.as("bit")).distinct()
      val hits = inc.select(col("doc_id"), col("sh"), js)
        .withColumn("bit", bitOf)
        .join(broadcast(bits), "bit")
        .groupBy(col("doc_id"), col("sh")).agg(count(lit(1)).as("nbits"))
        .filter(col("nbits") === bloomK)
        .select(col("doc_id"), col("sh"))
      val tot = inc.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
      // exact lookup ONLY on the bloom-pruned survivors — no false
      // negatives means this equals the unpruned exact count; the
      // membership flag rides a left join so ONE doc-keyed agg counts
      // both maybe and exact (one scan of the candidate set, not two)
      val nMb = hits
        .join(corpus.withColumn("in_corpus", lit(1L)), Seq("sh"), "left")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_maybe"),
          sum(coalesce(col("in_corpus"), lit(0L))).as("n_exact"))
      tot.join(nMb, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_sh"),
          coalesce(col("n_maybe"), lit(0L)).as("n_maybe"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"),
          when(coalesce(col("n_maybe"), lit(0L)) * 2 >= col("n_sh"), 1)
            .otherwise(0).as("screened"))
        .orderBy(col("doc_id"))
    },
    Some {
      def duckBit(src: String) =
        s"CAST('0x' || substr(md5('b' || CAST(j AS VARCHAR) || ':' || $src), 1, 15) AS BIGINT) % ${TextFns.minhashP} % $bloomM"
      s"""WITH base AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |shs AS (SELECT doc_id, $duckShingles AS sh FROM base),
         |ss AS (SELECT DISTINCT doc_id, unnest(sh) AS s FROM shs),
         |corpus AS (SELECT DISTINCT s FROM ss WHERE doc_id % 5 <> 0),
         |inc AS (SELECT doc_id, s FROM ss WHERE doc_id % 5 = 0),
         |js AS (SELECT unnest(range($bloomK)) AS j),
         |bits AS (SELECT DISTINCT ${duckBit("s")} AS bit FROM corpus CROSS JOIN js),
         |pb AS (SELECT doc_id, s, ${duckBit("s")} AS bit FROM inc CROSS JOIN js),
         |hits AS (SELECT doc_id, s FROM pb JOIN bits USING (bit)
         |         GROUP BY doc_id, s HAVING COUNT(*) = $bloomK),
         |tot AS (SELECT doc_id, COUNT(*) AS n_sh FROM inc GROUP BY 1),
         |mb AS (SELECT doc_id, COUNT(*) AS n_maybe FROM hits GROUP BY 1),
         |ex AS (SELECT h.doc_id, COUNT(*) AS n_exact
         |       FROM hits h JOIN corpus c ON c.s = h.s GROUP BY 1)
         |SELECT t.doc_id, CAST(t.n_sh AS BIGINT) AS n_sh,
         |       CAST(COALESCE(mb.n_maybe, 0) AS BIGINT) AS n_maybe,
         |       CAST(COALESCE(ex.n_exact, 0) AS BIGINT) AS n_exact,
         |       CAST(CASE WHEN COALESCE(mb.n_maybe, 0) * 2 >= t.n_sh
         |                 THEN 1 ELSE 0 END AS INTEGER) AS screened
         |FROM tot t LEFT JOIN mb USING (doc_id) LEFT JOIN ex USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin
    })

  // p43 — HyperLogLog FROM SCRATCH with hash-gated registers: q16_hll
  // uses Spark's built-in approx_count_distinct and is band-checked
  // by design (the sketch internals aren't portable); this gate
  // rebuilds the sketch from first principles in portable integer
  // arithmetic so the REGISTERS THEMSELVES go under the oracle hash —
  // per (group, bucket) the max leading-zero rank of a 60-bit md5
  // hash (bucket = h % 256, rank from length(bin(h >> 8)) — pure
  // integer/string ops, identical in both engines), registers folded
  // to the exact integer pair (v = empty registers, S = Σ 2^(53−M)
  // scaled so the harmonic mean is EXACT in int64), and the estimate
  // (bias-corrected raw, linear-counting branch below 2.5m — the
  // Flajolet et al. small-range correction) computed as ONE
  // identically-phrased double expression per engine. The exact
  // distinct runs beside it, so the sketch's real error is part of
  // the hash (the p41/p42 convention: approximation behavior
  // mirrored, never hidden). Shape at 100 TB: the register agg is a
  // groups×256-key partial agg — max() makes cells mergeable across
  // batches/executors exactly like CMS addition, which is why this
  // is THE distributed/streaming distinct structure; no distinct
  // shuffle unless you also want the exact answer.
  /** α₂₅₆ · m² · 2⁵³ — the HLL harmonic-mean numerator, computed once
    * on the driver and inlined in e-notation (DOUBLE in both parsers). */
  private val hllC: Double =
    0.7213 / (1 + 1.079 / 256.0) * 65536.0 * 9007199254740992.0
  private def hllCLit: String = f"$hllC%.17e"

  val p43 = QuerySpec(
    "p43_hll_sketch",
    (s, d) => {
      // r22 (guide §2.3/§1.2, the p41 restructure's twin): the register
      // max and the exact distinct both only depend on the DISTINCT
      // (lang, bigram) set — duplicate instances hash to the same h and
      // cannot move a max() — so ONE corpus scan folds instances to
      // that set (the same partial-distinct shuffle the exact count
      // always paid) and the md5 register build + the exact count both
      // read the vocab-sized cache instead of hashing per instance and
      // re-scanning the instance cache. Registers, v, s_scaled, est,
      // n_exact: bit-identical. (A register-only streaming deployment
      // keeps the distinct-free mergeable-agg shape the header
      // describes; this gate wants the exact answer beside the sketch,
      // so the distinct exists either way — riding it is free.)
      val vb = documents(s, d)
        .withColumn("toks", expr(toks))
        .select(col("lang"), explode(expr(TextFns.shinglesExpr("toks", 2))).as("big"))
        .distinct()
        .persist() // vocab-sized; two consumers: register agg + exact count
      val regs = vb
        .select(col("lang"),
          expr("CAST(conv(substring(md5(big), 1, 15), 16, 10) AS BIGINT)").as("h"))
        .select(col("lang"), expr("h % 256").as("bucket"),
          expr("CASE WHEN shiftright(h, 8) = 0 THEN 53 ELSE 53 - length(bin(shiftright(h, 8))) END").as("rank"))
        .groupBy(col("lang"), col("bucket")).agg(max(col("rank")).as("m_"))
      val allb = vb.select(col("lang")).distinct()
        .select(col("lang"), explode(expr("sequence(0, 255)")).as("bucket"))
      val sk = allb.join(regs, Seq("lang", "bucket"), "left")
        .select(col("lang"), coalesce(col("m_"), lit(0)).as("m0"))
        .groupBy(col("lang")).agg(
          sum(when(col("m0") === 0, 1L).otherwise(0L)).as("v"),
          sum(expr("shiftleft(CAST(1 AS BIGINT), 53 - m0)")).as("s_scaled"))
      val ex = vb.groupBy(col("lang")).agg(count(col("big")).as("n_exact"))
      // hllC is inlined in e-notation on BOTH sides: decimal-point
      // literals are DECIMAL (not DOUBLE) in DuckDB, and pure-literal
      // decimal arithmetic forks from Spark's at the 6th dp (measured)
      sk.join(ex, "lang")
        .withColumn("raw6", round(lit(hllC) / col("s_scaled"), 6))
        .withColumn("est", when(col("raw6") <= 640.0 && col("v") > 0,
          round(lit(256.0) * log(lit(256.0) / col("v")), 6)).otherwise(col("raw6")))
        .select(col("lang"), col("n_exact"), col("v"), col("s_scaled"), col("est"),
          round(abs(col("est") - col("n_exact")) / col("n_exact"), 4).as("rel_err"))
        .orderBy(col("lang"))
    },
    Some(s"""WITH d0 AS (SELECT lang, $duckToks AS toks FROM documents),
            |base AS (SELECT lang, toks[i+1] || ' ' || toks[i+2] AS big
            |         FROM d0, UNNEST(range(greatest(len(toks)-1, 0))) AS u(i)),
            |hs AS (SELECT lang, CAST('0x' || substr(md5(big), 1, 15) AS BIGINT) AS h FROM base),
            |regs AS (SELECT lang, h % 256 AS bucket,
            |                MAX(CASE WHEN (h >> 8) = 0 THEN 53
            |                         ELSE 53 - length(bin(h >> 8)) END) AS m_
            |         FROM hs GROUP BY 1, 2),
            |allb AS (SELECT lang, unnest(range(256)) AS bucket
            |         FROM (SELECT DISTINCT lang FROM base)),
            |sk AS (SELECT lang,
            |              CAST(SUM(CASE WHEN m0 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v,
            |              CAST(SUM(CAST(1 AS BIGINT) << (53 - m0)) AS BIGINT) AS s_scaled
            |       FROM (SELECT a.lang, COALESCE(r.m_, 0) AS m0
            |             FROM allb a LEFT JOIN regs r
            |               ON r.lang = a.lang AND r.bucket = a.bucket)
            |       GROUP BY 1),
            |ex AS (SELECT lang, COUNT(DISTINCT big) AS n_exact FROM base GROUP BY 1),
            |j AS (SELECT sk.lang, ex.n_exact, sk.v, sk.s_scaled,
            |             ROUND($hllCLit / sk.s_scaled, 6) AS raw6
            |      FROM sk JOIN ex ON ex.lang = sk.lang)
            |SELECT lang, CAST(n_exact AS BIGINT) AS n_exact, v, s_scaled,
            |       CASE WHEN raw6 <= 6.4e2 AND v > 0
            |            THEN ROUND(2.56e2 * LN(2.56e2 / v), 6) ELSE raw6 END AS est,
            |       ROUND(ABS((CASE WHEN raw6 <= 6.4e2 AND v > 0
            |                       THEN ROUND(2.56e2 * LN(2.56e2 / v), 6) ELSE raw6 END) - n_exact)
            |             / n_exact, 4) AS rel_err
            |FROM j ORDER BY lang""".stripMargin))

  // p43b — HLL SET ALGEBRA (the sketch composition q16_hll can never
  // offer): split the corpus into two halves (doc_id parity), sketch
  // each half, UNION the sketches by elementwise register max (the
  // p43 merge law as a query — at 100 TB this is how per-shard /
  // per-day distinct sketches roll up WITHOUT re-scanning: the union
  // estimate costs 256 integers per operand, not a corpus pass), and
  // estimate the INTERSECTION by inclusion–exclusion over the three
  // estimates. Exact counts run beside all four estimates, so the
  // sketch algebra's real error is under the hash. Registers reach
  // the driver as ≤256 bounded rows per set (the p20 driver-state
  // pattern); every estimate is the p43 formula on exact int64
  // (v, S) pairs; the inclusion–exclusion sum is one deterministic
  // add/subtract of 6-dp doubles, identical in both engines.
  val p43b = QuerySpec(
    "p43b_hll_set_algebra",
    (s, d) => {
      import s.implicits._
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      // r22 (the p41/p43 restructure): registers and exact counts both
      // depend only on the DISTINCT (side, bigram) set — duplicate
      // instances hash identically under max(), and the exact aggregates
      // were all count(DISTINCT ...) anyway — so fold instances to that
      // set in ONE corpus pass and run both actions over the vocab-sized
      // cache. The old plan hashed per instance AND ran the 3-way
      // conditional-distinct agg (a 3× Expand) over the instance cache.
      val base = documents(s, d)
        .withColumn("toks", expr(toks))
        .select(pmod(col("doc_id"), lit(2)).as("side"),
          explode(expr(TextFns.shinglesExpr("toks", 2))).as("big"))
        .distinct()
        .persist() // vocab-sized; consumers: per-side registers + exact counts
      val ranks = base
        .select(col("side"),
          expr("CAST(conv(substring(md5(big), 1, 15), 16, 10) AS BIGINT)").as("h"))
        .select(col("side"), expr("h % 256").as("bucket"),
          expr("CASE WHEN shiftright(h, 8) = 0 THEN 53 ELSE 53 - length(bin(shiftright(h, 8))) END").as("rank"))
      def estOf(regRows: Array[(Int, Int)]): Double = {
        val m = Array.fill(256)(0)
        regRows.foreach { case (b, r) => m(b) = math.max(m(b), r) }
        val v = m.count(_ == 0)
        val sS = m.map(m0 => 1L << (53 - m0)).sum
        val raw6 = r6(hllC / sS)
        if (raw6 <= 640.0 && v > 0) r6(256.0 * math.log(256.0 / v)) else raw6
      }
      // ONE register job for both sides (r21, guide §1.2 — was one
      // filtered job per side): group by (side, bucket), split on the
      // driver; ≤ 2×256 rows of driver state
      val regRows = ranks.groupBy(col("side"), col("bucket"))
        .agg(max(col("rank")).as("m_"))
        .collect().map(r => (r.getLong(0), (r.getLong(1).toInt, r.getInt(2))))
      val regsA = regRows.collect { case (0L, br) => br }
      val regsB = regRows.collect { case (1L, br) => br }
      val (estA, estB) = (estOf(regsA), estOf(regsB))
      // the merge law: union registers = elementwise max of the parts
      val estU = estOf(regsA ++ regsB)
      val estI = r6(estA + estB - estU)
      // ONE exact-count job (r21 — was a distinct materialization plus
      // three count jobs): per-side counts are plain conditional counts
      // now that `base` rows are unique per (side, big) — a side's CASE
      // is NULL on the other side's rows and count ignores nulls; the
      // union still dedups across sides (a bigram can appear in both)
      val cnt = base.agg(
        count(when(col("side") === 0, col("big"))).as("n_a"),
        count(when(col("side") === 1, col("big"))).as("n_b"),
        countDistinct(col("big")).as("n_union")).head()
      val (nA, nB, nU) = (cnt.getLong(0), cnt.getLong(1), cnt.getLong(2))
      val nI = nA + nB - nU
      base.unpersist()
      Seq((estA, estB, estU, estI, nA, nB, nU, nI))
        .toDF("est_a", "est_b", "est_union", "est_inter",
          "n_a", "n_b", "n_union", "n_inter")
    },
    Some {
      def setCtes(tag: String, where: String) =
        s"""regs_$tag AS (SELECT h % 256 AS bucket,
           |                MAX(CASE WHEN (h >> 8) = 0 THEN 53
           |                         ELSE 53 - length(bin(h >> 8)) END) AS m_
           |         FROM hs WHERE $where GROUP BY 1),
           |sk_$tag AS (SELECT CAST(SUM(CASE WHEN m0 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v,
           |                   CAST(SUM(CAST(1 AS BIGINT) << (53 - m0)) AS BIGINT) AS s_scaled
           |            FROM (SELECT COALESCE(r.m_, 0) AS m0
           |                  FROM (SELECT unnest(range(256)) AS bucket) a
           |                  LEFT JOIN regs_$tag r ON r.bucket = a.bucket)),
           |est_$tag AS (SELECT CASE WHEN ROUND($hllCLit / s_scaled, 6) <= 6.4e2 AND v > 0
           |                         THEN ROUND(2.56e2 * LN(2.56e2 / v), 6)
           |                         ELSE ROUND($hllCLit / s_scaled, 6) END AS est
           |             FROM sk_$tag)""".stripMargin
      s"""WITH d0 AS (SELECT doc_id % 2 AS side, $duckToks AS toks FROM documents),
         |base AS (SELECT side, toks[i+1] || ' ' || toks[i+2] AS big
         |         FROM d0, UNNEST(range(greatest(len(toks)-1, 0))) AS u(i)),
         |hs AS (SELECT side, CAST('0x' || substr(md5(big), 1, 15) AS BIGINT) AS h FROM base),
         |${setCtes("a", "side = 0")},
         |${setCtes("b", "side = 1")},
         |${setCtes("u", "TRUE")},
         |ex AS (SELECT
         |         (SELECT COUNT(DISTINCT big) FROM base WHERE side = 0) AS n_a,
         |         (SELECT COUNT(DISTINCT big) FROM base WHERE side = 1) AS n_b,
         |         (SELECT COUNT(DISTINCT big) FROM base) AS n_union)
         |SELECT a.est AS est_a, b.est AS est_b, u.est AS est_union,
         |       ROUND(a.est + b.est - u.est, 6) AS est_inter,
         |       CAST(ex.n_a AS BIGINT) AS n_a, CAST(ex.n_b AS BIGINT) AS n_b,
         |       CAST(ex.n_union AS BIGINT) AS n_union,
         |       CAST(ex.n_a + ex.n_b - ex.n_union AS BIGINT) AS n_inter
         |FROM est_a a CROSS JOIN est_b b CROSS JOIN est_u u CROSS JOIN ex""".stripMargin
    })

  // p44 — LEAKAGE-PROOF train/val split: the step after dedup that
  // real training pipelines get wrong — a doc-keyed random split puts
  // near-duplicate pairs on BOTH sides of the train/val boundary
  // (evaluation leakage). The fix: split by DUP-CLUSTER, not by doc —
  // every doc inherits its connected-component representative (p13's
  // clusters; singletons are their own rep) and the 80/20 assignment
  // hashes the REP (p17's deterministic md5-bucket discipline), so a
  // whole near-dup cluster lands on one side by construction. The
  // gate outputs the per-split doc/cluster counts AND two leakage
  // witnesses under the same hash: n_leak_cluster (verified near-dup
  // pairs straddling the cluster-keyed split — ZERO by construction,
  // the invariant as data) and n_leak_naive (the same count under the
  // doc-keyed split a naive pipeline uses — nonzero on this fixture,
  // the bug made visible). Scale shape: CC is p13's O(log diameter)
  // loop, assignment is a broadcast-free map over the component
  // table, the leak joins start from the O(pairs) side.
  val p44 = QuerySpec(
    "p44_leakage_safe_split",
    (s, d) => {
      val pairList = minhashPairs(s, d).select(col("da"), col("db")).persist()
      val comps = graft.ops.Dedup.connectedComponents(pairList, "da", "db")
      val asg = documents(s, d).select(col("doc_id"))
        .join(comps.withColumnRenamed("member", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("cluster_rep"), col("doc_id")).as("rep"))
        .withColumn("split",
          when(expr(s"${TextFns.md5IntScalarExpr("CAST(rep AS STRING)")} % 10") < 8,
            "train").otherwise("val"))
        .withColumn("naive_split",
          when(expr(s"${TextFns.md5IntScalarExpr("CAST(doc_id AS STRING)")} % 10") < 8,
            "train").otherwise("val"))
        .persist()
      val stats = asg.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), countDistinct(col("rep")).as("n_clusters"))
      val sa = asg.select(col("doc_id").as("da"),
        col("split").as("sa"), col("naive_split").as("nsa"))
      val sb = asg.select(col("doc_id").as("db"),
        col("split").as("sb"), col("naive_split").as("nsb"))
      val leak = pairList.join(sa, "da").join(sb, "db")
        .agg(sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L)).as("n_leak_cluster"),
          sum(when(col("nsa") =!= col("nsb"), 1L).otherwise(0L)).as("n_leak_naive"))
      stats.crossJoin(broadcast(leak))
        .select(col("split"), col("n_docs"), col("n_clusters"),
          col("n_leak_cluster"), col("n_leak_naive"))
        .orderBy(col("split"))
    },
    Some {
      val repB = s"CAST('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 15) AS BIGINT) % ${TextFns.minhashP} % 10"
      val docB = s"CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % ${TextFns.minhashP} % 10"
      s"""WITH RECURSIVE $duckPairCtes,
         |edges AS (SELECT da AS v, db AS w FROM pairs
         |          UNION ALL SELECT db, da FROM pairs),
         |walk(v, lbl) AS (
         |  SELECT v, v FROM (SELECT DISTINCT v FROM edges)
         |  UNION
         |  SELECT e.v, wk.lbl FROM edges e JOIN walk wk ON wk.v = e.w),
         |comps AS (SELECT v AS doc_id, MIN(lbl) AS rep FROM walk GROUP BY v),
         |asg AS (SELECT d.doc_id, COALESCE(c.rep, d.doc_id) AS rep
         |        FROM (SELECT doc_id FROM documents) d
         |        LEFT JOIN comps c ON c.doc_id = d.doc_id),
         |asg2 AS (SELECT doc_id, rep,
         |           CASE WHEN $repB < 8 THEN 'train' ELSE 'val' END AS split,
         |           CASE WHEN $docB < 8 THEN 'train' ELSE 'val' END AS naive_split
         |         FROM asg),
         |stats AS (SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT rep) AS n_clusters
         |          FROM asg2 GROUP BY 1),
         |leak AS (SELECT
         |    CAST(SUM(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END) AS BIGINT) AS n_leak_cluster,
         |    CAST(SUM(CASE WHEN a.naive_split <> b.naive_split THEN 1 ELSE 0 END) AS BIGINT) AS n_leak_naive
         |  FROM pairs p JOIN asg2 a ON a.doc_id = p.da JOIN asg2 b ON b.doc_id = p.db)
         |SELECT s.split, CAST(s.n_docs AS BIGINT) AS n_docs,
         |       CAST(s.n_clusters AS BIGINT) AS n_clusters,
         |       l.n_leak_cluster, l.n_leak_naive
         |FROM stats s CROSS JOIN leak l ORDER BY s.split""".stripMargin
    })

  // p45 — CORPUS HEALTH REPORT (the daily rollup a data engineer
  // actually watches): per language, document counts, the rule-based
  // quality pass rate (p2/p37's SHARED lrFeatures label — one source,
  // no drift), the verified near-dup incidence (p6's SHARED pair
  // pipeline), and mean document length — five families under ONE hash,
  // the p35 composition discipline extended across ingredient
  // OBJECTS: the Spark side and the oracle both reuse the exact
  // shared fragments (lrFeatures/duckLrFeatCtes, minhashPairs/
  // duckPairCtes), so the report can't drift from the operators it
  // summarizes. Everything is integer counts except two rounded
  // divisions of exact integers. Scale: the rollup adds one
  // lang-keyed partial agg on top of its ingredients; dup ids are
  // O(pairs); nothing new shuffles.
  val p45 = QuerySpec(
    "p45_corpus_report",
    (s, d) => {
      val base = documents(s, d)
        .withColumn("toks", expr(toks))
        .select(col("doc_id"), col("lang"), size(col("toks")).as("n_tok"))
      val quality = lrFeatures(documents(s, d))
        .select(col("doc_id"), col("y"))
      val dup = minhashPairs(s, d)
        .select(explode(array(col("da"), col("db"))).as("doc_id"))
        .distinct()
        .withColumn("is_dup", lit(1L))
      base
        .join(quality, Seq("doc_id"), "left")
        .join(dup, Seq("doc_id"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("y"), lit(0.0))).cast("long").as("n_quality"),
          sum(coalesce(col("is_dup"), lit(0L))).as("dup_docs"),
          round(sum(coalesce(col("is_dup"), lit(0L))) / count(lit(1)), 6).as("dup_rate"),
          round(sum(col("n_tok")) / count(lit(1)), 6).as("mean_tokens"))
        .orderBy(col("lang"))
    },
    Some(s"""WITH $duckLrFeatCtes,
            |$duckPairCtes,
            |rep_base AS (SELECT doc_id, lang, len($duckToks) AS n_tok FROM documents),
            |dup AS (SELECT DISTINCT doc_id FROM
            |          (SELECT da AS doc_id FROM pairs UNION ALL SELECT db FROM pairs)),
            |joined AS (SELECT b.lang, b.n_tok, COALESCE(f.y, 0.0) AS y,
            |                  CASE WHEN u.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup
            |           FROM rep_base b
            |           LEFT JOIN featr f ON f.doc_id = b.doc_id
            |           LEFT JOIN dup u ON u.doc_id = b.doc_id)
            |SELECT lang, COUNT(*) AS n_docs,
            |       CAST(SUM(y) AS BIGINT) AS n_quality,
            |       CAST(SUM(is_dup) AS BIGINT) AS dup_docs,
            |       ROUND(CAST(SUM(is_dup) AS BIGINT) / COUNT(*), 6) AS dup_rate,
            |       ROUND(CAST(SUM(n_tok) AS BIGINT) / COUNT(*), 6) AS mean_tokens
            |FROM joined GROUP BY 1 ORDER BY 1""".stripMargin))

  // p46 — DETERMINISTIC-SAMPLE quantiles with auditable error: the
  // sampling counterpart to q26b's t-digest (whose internals are
  // engine-specific and therefore band-only). A 1/16 md5-bucket
  // sample (p17's discipline — reproducible across runs AND engines,
  // unlike rand()) pays 1/16th of the exact percentile's full-column
  // sort, and because the sample is deterministic the estimate, the
  // exact value, and their |error| all go under ONE oracle hash —
  // the sketch's real accuracy is audited, not asserted. Exact
  // percentile arithmetic is the q26 convention (Spark `percentile`
  // ↔ DuckDB `quantile_cont`, identical linear interpolation). At
  // 100 TB the exact side is the expensive global-sort path you run
  // rarely; the sample side is the daily monitor; q26b's t-digest
  // is the streaming/mergeable path — three quantile strategies,
  // each with its check.
  val p46 = QuerySpec(
    "p46_quantile_sample",
    (s, d) => {
      val o = orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
      val samp = o.filter(
        expr(s"${TextFns.md5IntScalarExpr("CAST(o_orderkey AS STRING)")} % 16") === 0)
      val sa = samp.agg(count(lit(1)).as("n_sample"),
        expr("percentile(o_totalprice, 0.5)").as("s50"),
        expr("percentile(o_totalprice, 0.9)").as("s90"),
        expr("percentile(o_totalprice, 0.99)").as("s99"))
      val xa = o.agg(count(lit(1)).as("n_total"),
        expr("percentile(o_totalprice, 0.5)").as("x50"),
        expr("percentile(o_totalprice, 0.9)").as("x90"),
        expr("percentile(o_totalprice, 0.99)").as("x99"))
      xa.crossJoin(broadcast(sa))
        .select(col("n_total"), col("n_sample"),
          col("s50"), col("x50"), round(abs(col("s50") - col("x50")), 6).as("e50"),
          col("s90"), col("x90"), round(abs(col("s90") - col("x90")), 6).as("e90"),
          col("s99"), col("x99"), round(abs(col("s99") - col("x99")), 6).as("e99"))
    },
    Some {
      val bucket =
        s"CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15) AS BIGINT) % ${TextFns.minhashP} % 16"
      s"""WITH smp AS (SELECT o_totalprice FROM orders WHERE $bucket = 0),
         |sa AS (SELECT COUNT(*) AS n_sample,
         |              quantile_cont(o_totalprice, 0.5) AS s50,
         |              quantile_cont(o_totalprice, 0.9) AS s90,
         |              quantile_cont(o_totalprice, 0.99) AS s99
         |       FROM smp),
         |xa AS (SELECT COUNT(*) AS n_total,
         |              quantile_cont(o_totalprice, 0.5) AS x50,
         |              quantile_cont(o_totalprice, 0.9) AS x90,
         |              quantile_cont(o_totalprice, 0.99) AS x99
         |       FROM orders)
         |SELECT n_total, n_sample,
         |       s50, x50, ROUND(ABS(s50 - x50), 6) AS e50,
         |       s90, x90, ROUND(ABS(s90 - x90), 6) AS e90,
         |       s99, x99, ROUND(ABS(s99 - x99), 6) AS e99
         |FROM xa CROSS JOIN sa""".stripMargin
    })

  // p47 — the END-TO-END CURATION PIPELINE as one gate: what a
  // training-data batch job actually SHIPS — near-dup survivors
  // (p14's connected-component keeper pick) → rule-quality filter
  // (p2/p37's shared label) → sequence packing into training-ready
  // manifests (p21's cumulative-window packer) — three TRANSFORM
  // stages composed under ONE hash, the step past p35/p45's report
  // compositions: this is the output artifact, not the summary.
  // Every stage reuses the exact shared fragment (minhashPairs/
  // duckPairCtes, lrFeatures/duckLrFeatCtes, packManifest/the p21
  // window SQL), so the pipeline cannot drift from its operators.
  // Scale: each stage keeps its own proven shape (band equi-join CC,
  // map-only scoring, lang-keyed pack window — p21b's sharded window
  // is the skew dial when needed); the filters between stages only
  // SHRINK the data, so the composition is never worse than its
  // parts.
  val p47 = QuerySpec(
    "p47_curation_pipeline",
    (s, d) => {
      val pairList = minhashPairs(s, d).select(col("da"), col("db")).persist()
      val comps = graft.ops.Dedup.connectedComponents(pairList, "da", "db")
      pairList.unpersist() // comps is checkpoint-backed
      val removed = comps.filter(col("member") =!= col("cluster_rep"))
        .select(col("member").as("doc_id"))
      val surv = documents(s, d).join(removed, Seq("doc_id"), "left_anti")
      val qualIds = lrFeatures(surv).filter(col("y") === 1.0).select(col("doc_id"))
      val kept = surv.join(qualIds, Seq("doc_id"), "left_semi")
      packManifest(kept, packBudget)
    },
    Some(s"""WITH RECURSIVE $duckLrFeatCtes,
            |$duckPairCtes,
            |edges AS (SELECT da AS v, db AS w FROM pairs
            |          UNION ALL SELECT db, da FROM pairs),
            |walk(v, lbl) AS (
            |  SELECT v, v FROM (SELECT DISTINCT v FROM edges)
            |  UNION
            |  SELECT e.v, wk.lbl FROM edges e JOIN walk wk ON wk.v = e.w),
            |comp AS (SELECT v, MIN(lbl) AS rep FROM walk GROUP BY v),
            |removed AS (SELECT v FROM comp WHERE v <> rep),
            |kept AS (SELECT f.doc_id FROM featr f
            |         WHERE f.y = 1.0 AND f.doc_id NOT IN (SELECT v FROM removed)),
            |t AS (SELECT d.doc_id, d.lang, len($duckToks) AS n_tok
            |      FROM documents d JOIN kept k ON k.doc_id = d.doc_id),
            |c AS (SELECT doc_id, lang, n_tok,
            |        SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id) AS cum FROM t),
            |p AS (SELECT lang, CAST(FLOOR((cum - n_tok) / $packBudget.0) AS BIGINT) AS pack_id,
            |        doc_id, n_tok FROM c)
            |SELECT lang, pack_id, COUNT(*) AS n_docs,
            |       CAST(SUM(n_tok) AS BIGINT) AS pack_tokens,
            |       CAST(SUM(CASE WHEN n_tok > $packBudget THEN 1 ELSE 0 END) AS BIGINT) AS n_oversize,
            |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
            |FROM p GROUP BY 1, 2 ORDER BY lang, pack_id""".stripMargin))

  val all: Seq[QuerySpec] =
    Seq(p1, p2, p3, p4, p5, p6, p7, p8, p9, p10, p12, p13, p14, p15, p16, p17, m1,
      p20, p20b, p21, p21b, p22, p23, p24, p25, p26, p27, p28, p29, p30, p31, p32, p33, p34, p34b, p34c,
      p35, p36, p37, p37b, p38, p39, p39b, p40, p40b, p40c, p41, p42, p43, p43b, p44, p45, p46, p47,
      p40d, p48, p49, p50, p51, p52)
}
