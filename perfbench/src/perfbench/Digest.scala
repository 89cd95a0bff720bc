package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a result: its row count and the sum of
  * one 64-bit hash per row. Floating-point values are cut to 9
  * significant digits first, so a last-bit difference from a different
  * summation order does not read as a wrong result. */
object Digest {
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9g", c.cast(DoubleType))
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case StructType(fs) =>
      struct(fs.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), kt).as("k"), norm(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  def of(df: DataFrame): String = {
    val n = df.schema.size
    val pos = df.toDF((0 until n).map(i => s"c$i"): _*)
    val cols = pos.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = pos.select(h.cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0))))
      .head()
    s"$n:${r.getLong(0)}:${r.getDecimal(1).toBigInteger}"
  }

  /** Row count recorded in a digest. */
  def rows(digest: String): Long = digest.split(":")(1).toLong
}
