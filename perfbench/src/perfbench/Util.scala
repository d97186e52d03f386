package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Order-insensitive digest of a DataFrame: row count plus the sum of a
  * 64-bit hash of each row's canonical JSON. Columns are taken in name
  * order; doubles are rendered at 9 significant digits, so results that
  * differ only in floating-point summation order agree. */
object Digest {
  final case class D(rows: Long, hash: String, bytes: Long)

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      when(d.isNull, lit(null).cast(StringType))
        .when(isnan(d), lit("NaN"))
        .otherwise(format_string("%.9g", d + lit(0.0)))
    case s: StructType =>
      struct(s.fields.sortBy(_.name).map(f => canon(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*)
    case a: ArrayType => transform(c, x => canon(x, a.elementType))
    case m: MapType => transform_values(map_from_entries(array_sort(map_entries(c))), (_, v) => canon(v, m.valueType))
    case _ => c
  }

  def of(df: DataFrame): D = {
    // positional names first: a join result may carry duplicate names
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = df.schema.fields.zipWithIndex.sortBy(_._1.name.toLowerCase).zipWithIndex.map {
      case ((f, i), j) => canon(named.col(s"c$i"), f.dataType).as(s"k$j")
    }
    val js = to_json(struct(cols.toIndexedSeq: _*))
    val r = named.select(js.as("j")).select(xxhash64(col("j")).as("h"), length(col("j")).as("n"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)),
        sum(shiftrightunsigned(col("h"), 32)), sum(col("n")))
      .head()
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    D(l(0), f"${l(1)}%x-${l(2)}%x", l(3))
  }
}

/** A fixed CPU-bound loop; its time marks a loaded host. */
object Calib {
  def ms(): Double = {
    var x = 0x9e3779b97f4a7c15L; var acc = 0L
    val t0 = System.nanoTime()
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x & 1023; i += 1 }
    val ms = (System.nanoTime() - t0) / 1e6
    if (acc == 42) println("") // keeps the loop live
    ms
  }
}

object Fs {
  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(f => try Files.size(f) catch { case _: Exception => 0L }).sum()
      finally s.close()
    }

  def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, s)
  }
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.math.BigDecimal.valueOf(v).stripTrailingZeros.toPlainString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
