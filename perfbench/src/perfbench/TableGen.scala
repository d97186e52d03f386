package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generates the contract's input tables (the TPC-H-like star schema plus
  * `events`, `documents` and `embeddings`) at scale factor `sf`, with the
  * schemas, value domains and row counts the contract queries expect.
  *
  * Every value is a hash of (table salt, row id) under a fixed data seed,
  * and each table is written as one single-row-group parquet file in row-id
  * order, so the same `sf` always yields byte-identical tables. The batch
  * workloads' `--seed` permutes query order only: their pinned result
  * digests need fixed inputs. */
object TableGen {
  private val DataSeed = 20240101L

  private def h(salt: Int, cols: Column*): Column = xxhash64((lit(DataSeed) +: lit(salt) +: cols): _*)
  /** Uniform integer in [0, n). */
  private def ui(id: Column, salt: Int, n: Long): Column = pmod(h(salt, id), lit(n))
  /** Uniform double in [0, 1). */
  private def u(id: Column, salt: Int): Column = ui(id, salt, 1L << 30).cast("double") / (1L << 30).toDouble
  private def pick(id: Column, salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (ui(id, salt, xs.size.toLong) + 1).cast("int"))
  private def day(from: String, id: Column, salt: Int, n: Long): Column =
    date_add(lit(from).cast("date"), ui(id, salt, n).cast("int")).cast("timestamp_ntz")

  private val vocab = Seq("spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort", "order", "slow",
    "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  def counts(sf: Double): Map[String, Long] = Map(
    "customer" -> math.round(150000 * sf), "supplier" -> math.round(10000 * sf),
    "part" -> math.round(200000 * sf), "orders" -> math.round(1500000 * sf),
    "lineitem" -> math.round(6000000 * sf), "events" -> math.round(1000000 * sf),
    "documents" -> math.max(500L, math.round(50000 * sf)),
    "embeddings" -> math.max(500L, math.round(20000 * sf)),
    "users" -> math.max(1L, math.round(15000 * sf)))

  def tables(spark: SparkSession, sf: Double): Seq[(String, DataFrame)] = {
    val n = counts(sf)
    def rows(t: String) = spark.range(0, n(t), 1, 1)
    val id = col("id")
    val region = spark.range(0, 5, 1, 1).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (id + 1).cast("int")).as("r_name"))
    val nation = spark.range(0, 25, 1, 1).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), pmod(id, lit(5L)).cast("int").as("n_regionkey"))
    val customer = rows("customer").select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"), ui(id, 1, 25).cast("int").as("c_nationkey"),
      round(u(id, 2) * 10999.65 - 999.85, 2).as("c_acctbal"),
      pick(id, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment"))
    val supplier = rows("supplier").select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"), ui(id, 4, 25).cast("int").as("s_nationkey"),
      round(u(id, 5) * 10999.65 - 999.85, 2).as("s_acctbal"))
    val part = rows("part").select(id.as("p_partkey"),
      concat_ws(" ", pick(id, 6, Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")),
        pick(id, 7, Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"))).as("p_name"),
      concat(lit("Brand#"), ui(id, 8, 25) + 1).as("p_brand"),
      pick(id, 9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      (ui(id, 10, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + pmod(id, lit(1000L)) / 10.0).as("p_retailprice"))
    val orders = rows("orders").select(id.as("o_orderkey"), ui(id, 11, n("customer")).as("o_custkey"),
      pick(id, 12, Seq("F", "O", "P")).as("o_orderstatus"),
      round(u(id, 13) * 499000 + 1000, 2).as("o_totalprice"),
      day("1995-01-01", id, 14, 2404).as("o_orderdate"),
      pick(id, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
    val lineitem = rows("lineitem").select(ui(id, 16, n("orders")).as("l_orderkey"),
      ui(id, 17, n("part")).as("l_partkey"), ui(id, 18, n("supplier")).as("l_suppkey"),
      (ui(id, 19, 7) + 1).cast("int").as("l_linenumber"), (ui(id, 20, 50) + 1).cast("double").as("l_quantity"),
      round(u(id, 21) * 104099 + 900.68, 2).as("l_extendedprice"),
      (round(u(id, 22) * 10) / 100).as("l_discount"), (round(u(id, 23) * 8) / 100).as("l_tax"),
      pick(id, 24, Seq("A", "N", "R")).as("l_returnflag"), pick(id, 25, Seq("F", "O")).as("l_linestatus"),
      day("1995-01-02", id, 26, 2498).as("l_shipdate"))
    // one event every ~26 s over January 2024, in event_id order
    val stepUs = 30L * 86400 * 1000000 / math.max(1L, n("events"))
    val events = rows("events").select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + id * stepUs + ui(id, 27, stepUs))
        .cast("timestamp_ntz").as("ts"),
      ui(id, 28, n("users")).as("user_id"),
      pick(id, 29, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      round(-log(lit(1.0) - u(id, 30)) * 50, 2).as("value"),
      format_string("{\"k\": %d}", ui(id, 31, 100)).as("props"))
    // one document in twenty is a near-copy of a recent one: its text plus " dup"
    val dup = ui(id, 32, 20) === 0 && id >= 10
    val base = when(dup, id - ui(id, 33, 7) - 1).otherwise(id)
    val words = transform(sequence(lit(0L), ui(base, 34, 91) + 9),
      i => element_at(array(vocab.map(lit): _*), (pmod(h(35, base, i), lit(vocab.size.toLong)) + 1).cast("int")))
    val text = concat(concat_ws(" ", words), when(dup, lit(" dup")).otherwise(lit("")))
    val documents = rows("documents").select(id.as("doc_id"), text.as("text"),
      pick(id, 36, Seq("en", "en", "en", "de", "es", "fr", "zh")).as("lang"),
      concat(lit("src"), pmod(id, lit(20L))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    // unit vectors of summed uniforms (near-Gaussian per coordinate)
    val raw = transform(sequence(lit(0L), lit(63L)), j =>
      (0 until 4).map(r => pmod(h(37 + r, id, j), lit(1L << 20)).cast("double") / (1 << 20).toDouble)
        .reduce(_ + _) - 2.0)
    val embeddings = rows("embeddings").select(id.as("vec_id"), raw.as("raw"),
      ui(id, 41, 10).cast("int").as("label"))
      .select(col("vec_id"), transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0),
        (a, v) => a + v * v))).cast("float")).as("embedding"), col("label"))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer, "supplier" -> supplier,
      "part" -> part, "orders" -> orders, "lineitem" -> lineitem, "events" -> events,
      "documents" -> documents, "embeddings" -> embeddings)
  }

  /** The tables at `sf` under `root`, generated on first use. The inputs
    * do not depend on the run's seed, so runs in one checkout share them;
    * a run that finds them missing writes them to a private directory and
    * renames it into place. Returns the directory and the ms this call took. */
  def cached(spark: SparkSession, sf: Double, root: java.nio.file.Path): (String, Double) = {
    val dir = root.resolve(s"sf$sf")
    val t0 = System.nanoTime()
    if (!java.nio.file.Files.exists(dir)) {
      val tmp = root.resolve(s"sf$sf.tmp-${ProcessHandle.current.pid}")
      tables(spark, sf).foreach { case (name, df) =>
        df.write.mode("overwrite").parquet(tmp.resolve(s"$name.parquet").toString)
      }
      try java.nio.file.Files.move(tmp, dir, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileAlreadyExistsException | _: java.nio.file.DirectoryNotEmptyException => () }
    }
    (dir.toString, (System.nanoTime() - t0) / 1e6)
  }
}
