package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session(defaultCpus = "4")
    new java.io.File(outDir).mkdirs()
    // failures must be VISIBLE, not absent: a query that dies writes no
    // output dir, so the driver's compare records nothing for it — r14
    // lost 21 queries to silent absence and only a judge diff against
    // r13 caught it. _errors.json turns breakage into red `err` rows.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // SPARK_GRAFT_ONLY=p36_ann_full_stack : dev aid for iterating on one
    // gate without paying the full 90+-query dump (driver leaves it unset;
    // same convention as Bench)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries.filter(q => only.forall(_.contains(q._1))).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        errors(name) = msg.linesIterator.take(3).mkString(" | ").take(500)
        System.err.println(s"[verify] $name failed: $msg")
      }
      finally spark.catalog.clearCache() // drop query-local persist()s
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    spark.stop()
  }
}
