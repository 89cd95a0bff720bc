package graft

import graft.plans.ParamLiteral
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, In, Literal}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.sql.{Date, Timestamp}
import java.time.LocalDateTime

/** Filter constants kept out of generated code (graft.plans.ParamLiterals):
  * each comparison returns what a Scala filter over the same collected
  * rows returns, the executed `FilterExec` reads the constant as a
  * `ParamLiteral` and prints as before, and the parquet scan still
  * pushes the constant down. */
class ParamLiteralSpec extends GraftSuite with AdaptiveSparkPlanHelper {

  private val schema = StructType.fromDDL(
    "id INT, b BOOLEAN, y TINYINT, sh SMALLINT, i INT, l BIGINT, f FLOAT, d DOUBLE, " +
      "dt DATE, ts TIMESTAMP, ntz TIMESTAMP_NTZ")

  private def row(id: Int, b: Boolean, y: Int, sh: Int, i: Int, l: Long, f: Float, d: Double,
      dt: String, ts: String): Row =
    Row(id, b, y.toByte, sh.toShort, i, l, f, d, Date.valueOf(dt), Timestamp.valueOf(ts),
      Timestamp.valueOf(ts).toLocalDateTime)

  private lazy val path: String = {
    val rows = Seq(
      row(1, true, -5, -300, -70000, Long.MinValue, -1.5f, Double.NaN,
        "2020-01-01", "2024-01-02 03:04:05"),
      row(2, false, 0, 0, 0, 0L, 0f, 0.5, "1969-12-31", "1970-01-01 00:00:00"),
      row(3, true, 7, 300, 70000, Long.MaxValue, Float.NaN, -2.5,
        "2020-01-02", "2024-01-02 03:04:06"),
      Row.fromSeq(4 +: Seq.fill(schema.size - 1)(null)),
      row(5, false, -128, -32768, Int.MinValue, -1L, 3.25f, 1e300,
        "2020-01-01", "1999-12-31 23:59:59.999999"),
      row(6, true, 127, 32767, Int.MaxValue, Long.MinValue + 1, Float.NegativeInfinity, Double.NaN,
        "2038-01-19", "2024-01-02 03:04:05"))
    val dir = java.nio.file.Files.createTempDirectory("graft_param_lit").resolve("t").toString
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1).write.parquet(dir)
    dir
  }

  private def at(r: Row, c: String): Option[Any] =
    Option(r.get(r.fieldIndex(c)))

  private val d2020 = Date.valueOf("2020-01-01")
  private val t0405 = Timestamp.valueOf("2024-01-02 03:04:05")

  /** (filter, the same predicate in Scala, a pushed filter it must keep) */
  private val cases: Seq[(Column, Row => Boolean, Option[String])] = Seq(
    (col("b") <=> lit(false), r => at(r, "b").contains(false), None),
    (col("y") === lit(-5.toByte), r => at(r, "y").contains(-5.toByte), None),
    (col("y") =!= lit(-5.toByte), r => at(r, "y").exists(_ != -5.toByte), None),
    (col("sh") < lit(-299.toShort), r => at(r, "sh").exists(_.asInstanceOf[Short] < -299), None),
    (col("i").between(-70000, 0), r => at(r, "i").exists { v =>
      val x = v.asInstanceOf[Int]; x >= -70000 && x <= 0 }, None),
    (col("l") === lit(Long.MinValue), r => at(r, "l").contains(Long.MinValue),
      Some("EqualTo(l,-9223372036854775808)")),
    (col("l") < lit(-1L), r => at(r, "l").exists(_.asInstanceOf[Long] < -1L), None),
    (col("f") < lit(0f), r => at(r, "f").exists(v =>
      java.lang.Float.compare(v.asInstanceOf[Float], 0f) < 0), None),
    // Spark orders NaN above every double and equal to itself
    (col("d") === lit(Double.NaN), r => at(r, "d").exists(_.asInstanceOf[Double].isNaN), None),
    (col("d") < lit(1.0), r => at(r, "d").exists(v =>
      java.lang.Double.compare(v.asInstanceOf[Double], 1.0) < 0), None),
    (col("dt") === lit(d2020), r => at(r, "dt").contains(d2020), Some("2020-01-01")),
    (col("ts") <=> lit(t0405), r => at(r, "ts").contains(t0405), None),
    (col("ntz") < lit(LocalDateTime.of(2020, 1, 1, 0, 0)), r => at(r, "ntz").exists(
      _.asInstanceOf[LocalDateTime].isBefore(LocalDateTime.of(2020, 1, 1, 0, 0))), None),
    (col("i").isin(-70000, 0, Int.MaxValue), r => at(r, "i").exists(Set[Any](-70000, 0, Int.MaxValue)),
      None))

  test("every replaced comparison returns the Scala filter's rows") {
    val all = spark.read.parquet(path).collect()
    assert(all.length == 6)
    for ((c, p, _) <- cases) {
      val got = spark.read.parquet(path).where(c).select("id").collect().map(_.getInt(0)).sorted
      val want = all.filter(p).map(_.getInt(0)).sorted
      assert(got.toSeq == want.toSeq, s"$c")
    }
  }

  test("the executed FilterExec reads ParamLiterals, prints as before, and the scan still pushes") {
    val inlined = Set[DataType](BooleanType, ByteType, ShortType, IntegerType, LongType,
      FloatType, DoubleType, DateType, TimestampType, TimestampNTZType)
    for ((c, _, pushed) <- cases) {
      val df = spark.read.parquet(path).where(c).select("id")
      df.collect()
      val plan = df.queryExecution.executedPlan
      val filters = collect(plan) { case f: FilterExec => f }
      assert(filters.size == 1, s"$c:\n$plan")
      val cond = filters.head.condition
      assert(cond.exists(_.isInstanceOf[ParamLiteral]), s"$c: $cond")
      // no comparison operand is left for the code generator to inline
      val left = cond.collect {
        case e @ (_: BinaryComparison | _: In) => e.children.collect {
          case l: Literal if l.value != null && inlined(l.dataType) => l
        }
      }.flatten
      assert(left.isEmpty, s"$c: $cond")
      val asLiterals = cond.transform { case p: ParamLiteral => Literal(p.value, p.dataType) }
      assert(cond.toString == asLiterals.toString && cond.sql == asLiterals.sql)
      val scan = collect(plan) { case s: FileSourceScanExec => s }.head
      assert(scan.dataFilters.exists(_.exists(_.isInstanceOf[Literal])), s"$c: ${scan.dataFilters}")
      pushed.foreach(v => assert(scan.metadata("PushedFilters").contains(v),
        s"$c: ${scan.metadata("PushedFilters")}"))
    }
  }
}
